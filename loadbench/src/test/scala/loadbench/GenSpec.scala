package loadbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Every file under `dir`, relative path → bytes. */
  private def tree(dir: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(dir)
    try {
      val files = walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      files.map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    } finally walk.close()
  }

  /** Inputs of all three workloads for one seed, written under `dir`. */
  private def generate(seed: Long, dir: Path): Map[String, Seq[Byte]] = {
    val ingest = new IngestGen(seed)
    ingest.initialLoad(dir.resolve("ingest/initial"))
    (0 until 20).foreach(i => ingest.republish(i, dir.resolve(f"ingest/b$i%05d")))
    new IngestGen(seed, scale = 4).initialLoad(dir.resolve("search/initial"))
    new DocGen(seed, shards = 3, docsPerShard = 120).writeShards(dir.resolve("curate"))
    tree(dir)
  }

  test("the same seed writes byte-identical inputs; another seed writes different ones") {
    val tmp = Files.createTempDirectory("loadbench-gen")
    try {
      val a = generate(7, tmp.resolve("a"))
      val b = generate(7, tmp.resolve("b"))
      val c = generate(8, tmp.resolve("c"))
      assert(a.nonEmpty)
      assert(a == b)
      assert(a.keySet == c.keySet)
      // the archive descriptors are fixed; every data file changes
      val (meta, data) = a.partition(_._1.endsWith("meta.xml"))
      assert(meta.nonEmpty && meta.forall { case (k, v) => c(k) == v })
      assert(data.nonEmpty && data.forall { case (k, v) => c(k) != v },
        "every data file should change with the seed")
    } finally Gen.deleteTree(tmp)
  }

  test("every republication carries new, changed and deleted records at fixed rates") {
    val tmp = Files.createTempDirectory("loadbench-gen")
    try {
      val g = new IngestGen(3)
      g.initialLoad(tmp.resolve("initial"))
      val batches = (0 until 16).map(i => g.republish(i, tmp.resolve(s"b$i")))
      assert(batches.forall(b => b.newUuids.nonEmpty && b.changed > 0 && b.deleted > 0))
      val sizes = batches.map(_.offered)
      assert(sizes.max > 20 * sizes.min, "recordset sizes should be skewed")
    } finally Gen.deleteTree(tmp)
  }

  test("the curation reference keeps one member per planted cluster") {
    val g = new DocGen(5, shards = 1, docsPerShard = 140)
    val keep = CurateReference.survivors(g.docs(0), 0.5)
    val removedByQuality = g.ShortDocs + g.LowDiversityDocs
    val removedAsDuplicates = (0 until g.Clusters).map(c => g.ClusterSizes(c % g.ClusterSizes.size) - 1).sum
    assert(keep.size == g.docsPerShard - removedByQuality - removedAsDuplicates)
  }
}
