package loadbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

/** Input generators. Everything here is plain Scala over a seeded
  * `scala.util.Random`: the same seed writes byte-identical files. The
  * program only ever sees the files. */
object Gen {

  /** Fixed word lists (not seeded): pronounceable syllable products. */
  private val syl = Vector("ba", "ca", "da", "fe", "gi", "ho", "ka", "lo", "mi",
    "na", "po", "ra", "si", "tu", "ve", "za")
  val words: Vector[String] =
    (for (a <- syl; b <- syl; c <- Vector("n", "r", "s", "t", "l", "m", "x", ""))
      yield a + b + c).distinct
  val genera: Vector[String] = words.take(150).map(w => w.capitalize + "ia")
  val epithets: Vector[String] = words.slice(300, 500).map(_ + "ensis")
  val families: Vector[String] = words.slice(600, 640).map(w => w.capitalize + "idae")
  val countries: Vector[(String, String)] = Vector(
    "Mexico" -> "mx", "Brazil" -> "br", "Canada" -> "ca", "Peru" -> "pe",
    "Chile" -> "cl", "Colombia" -> "co", "Ecuador" -> "ec", "Bolivia" -> "bo",
    "Argentina" -> "ar", "Panama" -> "pa", "Cuba" -> "cu", "Uruguay" -> "uy")
  val states: Vector[String] = words.slice(700, 760).map(_.capitalize)
  val bors: Vector[String] = Vector("PreservedSpecimen", "FossilSpecimen", "HumanObservation")

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  /** Zipf-skewed index in [0, n): P(i) ∝ 1 / (i + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: scala.util.Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally walk.close()
    }
}

/** What one publication did, for the checks. */
final case class Batch(dir: Path, recordsets: Seq[String],
    offered: Int, newUuids: Set[String], changed: Int, deleted: Int)

/** The publishers' side of `ingest`: recordsets re-published as Darwin
  * Core archives, each publication mixing new, unchanged, changed and
  * deleted records. The generator keeps its own model of what the store
  * and index must hold after every batch.
  *
  * The size schedule is fixed and only the content is seeded, so every
  * seed offers the same amount of work per op. Sizes are skewed in four
  * tiers, and each block of `tierPattern` ops takes one recordset of its
  * tier in seeded order. */
final class IngestGen(seed: Long, scale: Int = 1) {
  import Gen._

  /** (records per recordset, recordsets) per tier: tiny to large. */
  val tiers: Vector[(Int, Int)] =
    Vector((20, 8), (120, 4), (400, 2), (1200, 1)).map { case (n, k) => (n * scale, k) }
  /** Tier of each op within one block. */
  val tierPattern: Vector[Int] = Vector(0, 1, 0, 2, 0, 1, 0, 3, 0, 1, 0, 2, 0, 1, 0, 0)
  val NewRate = 0.08
  val ChangeRate = 0.10
  val DeleteRate = 0.04

  /** Content columns in archive order (after the `id` column). */
  val terms: Vector[String] = Vector("datasetID", "occurrenceID", "catalogNumber",
    "institutionCode", "scientificName", "genus", "specificEpithet", "family",
    "kingdom", "country", "stateProvince", "locality", "decimalLatitude",
    "decimalLongitude", "eventDate", "individualCount", "basisOfRecord")

  private val rng = new scala.util.Random(seed)
  private val genusZ = new Zipf(genera.length, 1.1)
  private val countryZ = new Zipf(countries.length, 0.8)
  private val wordZ = new Zipf(words.length, 1.0)

  final class Recordset(val id: String, val size: Int) {
    var serial = 0
    val live = mutable.LinkedHashMap.empty[String, Map[String, String]] // identifier → content
  }
  val recordsets: Vector[Recordset] = {
    var k = 0
    tiers.flatMap { case (n, count) =>
      (0 until count).map { _ => k += 1; new Recordset(f"rs$k%03d-${seed % 1000}%03d", n) }
    }
  }
  private val byTier = tiers.indices.map(t =>
    recordsets.filter(_.size == tiers(t)._1)).toVector
  private val tierQueues = byTier.map(_ => mutable.Queue.empty[Recordset])

  /** uuid → (latest version, deleted); the store must agree. */
  val versions = mutable.HashMap.empty[String, (Int, Boolean)]

  def uuidOf(rs: String, identifier: String): String = md5(rs + "/" + identifier)

  private def newRecord(rs: Recordset): (String, Map[String, String]) = {
    rs.serial += 1
    val ident = s"${rs.id}:occ:${rs.serial}"
    val g = genera(genusZ.draw(rng))
    val e = epithets(rng.nextInt(epithets.length))
    val (country, _) = countries(countryZ.draw(rng))
    val loc = (1 to 3 + rng.nextInt(4)).map(_ => words(wordZ.draw(rng))).mkString(" ")
    val lat = -40.0 + rng.nextInt(9000000) / 100000.0
    val lon = -120.0 + rng.nextInt(8500000) / 100000.0
    val content = Map(
      "datasetID" -> rs.id,
      "occurrenceID" -> ident,
      "catalogNumber" -> s"C${rng.nextInt(1000000)}",
      "institutionCode" -> s"INST${rng.nextInt(20)}",
      "scientificName" -> s"$g $e",
      "genus" -> g,
      "specificEpithet" -> e,
      "family" -> families(rng.nextInt(families.length)),
      "kingdom" -> (if (rng.nextInt(4) == 0) "Plantae" else "Animalia"),
      "country" -> country,
      "locality" -> loc,
      "decimalLatitude" -> f"$lat%.5f",
      "decimalLongitude" -> f"$lon%.5f",
      "eventDate" -> f"${1950 + rng.nextInt(70)}-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d",
      "individualCount" -> (1 + rng.nextInt(50)).toString,
      "basisOfRecord" -> bors(if (rng.nextInt(5) == 0) 1 + rng.nextInt(2) else 0),
    ) ++ (if (rng.nextInt(10) < 7) Map("stateProvince" -> states(rng.nextInt(states.length)))
          else Map.empty)
    ident -> content
  }

  private def writeArchive(dir: Path, rows: Iterator[(String, Map[String, String])]): Unit = {
    val dwc = "http://rs.tdwg.org/dwc/terms/"
    val fields = terms.zipWithIndex.map { case (t, i) =>
      s"""    <field index="${i + 1}" term="$dwc$t"/>""" }.mkString("\n")
    write(dir.resolve("meta.xml"),
      s"""<archive xmlns="http://rs.tdwg.org/dwc/text/">
         |  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="${dwc}Occurrence">
         |    <files><location>occurrence.txt</location></files>
         |    <id index="0"/>
         |$fields
         |  </core>
         |</archive>
         |""".stripMargin)
    val sb = new StringBuilder(("id" +: terms).mkString("\t")).append('\n')
    rows.foreach { case (ident, c) =>
      sb.append(ident)
      terms.foreach(t => sb.append('\t').append(c.getOrElse(t, "")))
      sb.append('\n')
    }
    write(dir.resolve("occurrence.txt"), sb.toString)
  }

  /** The first publication of every recordset, as one archive. */
  def initialLoad(dir: Path): Batch = {
    val fresh = recordsets.flatMap { rs =>
      (0 until rs.size).map { _ =>
        val (ident, c) = newRecord(rs)
        rs.live(ident) = c
        val u = uuidOf(rs.id, ident)
        versions(u) = (0, false)
        u
      }
    }
    writeArchive(dir, recordsets.iterator.flatMap(_.live.iterator))
    Batch(dir, recordsets.map(_.id), fresh.size, fresh.toSet, 0, 0)
  }

  /** Re-publication number `i` of the stream: the next recordset of the
    * tier that the fixed pattern names. */
  def republish(i: Int, dir: Path): Batch = {
    val t = tierPattern(i % tierPattern.length)
    if (tierQueues(t).isEmpty) tierQueues(t) ++= rng.shuffle(byTier(t))
    val rs = tierQueues(t).dequeue()
    val n = rs.live.size
    val ids = rng.shuffle(rs.live.keys.toVector)
    val nDel = math.max(1, math.round(n * DeleteRate).toInt)
    val nChg = math.max(1, math.round(n * ChangeRate).toInt)
    val nNew = math.max(1, math.round(n * NewRate).toInt)
    ids.take(nDel).foreach { ident =>
      rs.live.remove(ident)
      val u = uuidOf(rs.id, ident)
      versions(u) = (versions(u)._1 + 1, true)
    }
    ids.slice(nDel, nDel + nChg).foreach { ident =>
      val c = rs.live(ident)
      rs.live(ident) = c.updated("locality", c("locality") + " " + words(rng.nextInt(words.length)))
      val u = uuidOf(rs.id, ident)
      versions(u) = (versions(u)._1 + 1, false)
    }
    val fresh = (0 until nNew).map { _ =>
      val (ident, c) = newRecord(rs)
      rs.live(ident) = c
      val u = uuidOf(rs.id, ident)
      versions(u) = (0, false)
      u
    }
    writeArchive(dir, rs.live.iterator)
    Batch(dir, Seq(rs.id), rs.live.size, fresh.toSet, nChg, nDel)
  }

  /** Every live record as (uuid, recordset, content). */
  def liveRecords: Seq[(String, String, Map[String, String])] =
    recordsets.flatMap(rs => rs.live.toSeq.map { case (ident, c) =>
      (uuidOf(rs.id, ident), rs.id, c) })

  /** Identifier of each live uuid. */
  def identifierOf: Map[String, String] =
    recordsets.flatMap(rs => rs.live.keys.map(i => uuidOf(rs.id, i) -> i)).toMap
}

final case class Doc(id: Long, shard: Int, source: String, text: String)

/** The curators' side: document shards with planted near-duplicate
  * clusters, too-short and low-diversity documents, in fixed numbers per
  * shard; the seed picks the words, the order and the doc ids. */
final class DocGen(seed: Long, val shards: Int, val docsPerShard: Int) {
  import Gen._

  val ShortDocs = docsPerShard / 16
  val LowDiversityDocs = docsPerShard / 32
  val ClusterSizes: Vector[Int] = Vector(2, 3, 4)
  val Clusters = docsPerShard / 14

  private val rng = new scala.util.Random(seed)

  private def normalWords(n: Int): Vector[String] =
    Vector.fill(n)(words(rng.nextInt(words.length)))

  private def shard(s: Int): Vector[Doc] = {
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until ShortDocs).foreach(_ => texts += normalWords(6 + rng.nextInt(8)).mkString(" "))
    (0 until LowDiversityDocs).foreach { _ =>
      val few = normalWords(3)
      texts += Vector.fill(40 + rng.nextInt(20))(few(rng.nextInt(3))).mkString(" ")
    }
    (0 until Clusters).foreach { c =>
      val base = normalWords(60 + rng.nextInt(40))
      texts += base.mkString(" ")
      (1 until ClusterSizes(c % ClusterSizes.length)).foreach { _ =>
        val copy = base.toArray
        copy(rng.nextInt(copy.length)) = words(rng.nextInt(words.length))
        texts += copy.mkString(" ")
      }
    }
    while (texts.size < docsPerShard) texts += normalWords(30 + rng.nextInt(70)).mkString(" ")
    val base = s.toLong * 100000L
    val ids = rng.shuffle((0 until docsPerShard).toVector).map(i => base + i * 7 + rng.nextInt(7))
    rng.shuffle(texts.toVector).zip(ids).map { case (t, id) =>
      Doc(id, s, s"src${rng.nextInt(4)}", t) }
  }

  val docs: Vector[Vector[Doc]] = (0 until shards).toVector.map(shard)

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    } + "\""

  /** One JSON-lines file per shard. */
  def writeShards(dir: Path): Vector[Path] = docs.map { ds =>
    val p = dir.resolve(f"shard-${ds.head.shard}%02d.jsonl")
    write(p, ds.map(d => s"""{"doc_id":${d.id},"source":${json(d.source)},"text":${json(d.text)}}""")
      .mkString("", "\n", "\n"))
    p
  }
}

/** Brute-force curation reference for one shard: the quality rules, all
  * pairs of 3-word shingle sets at Jaccard ≥ `threshold`, connected
  * components, and the longest member (ties to the larger id) kept. */
object CurateReference {
  def survivors(docs: Seq[Doc], threshold: Double): Set[Long] = {
    val good = docs.filter { d =>
      val toks = d.text.split("\\s+").filter(_.nonEmpty)
      val n = toks.length
      n >= 20 && toks.distinct.length.toDouble / n >= 0.3 &&
        toks.map(_.length).sum.toDouble / n <= 12.0
    }
    val sh = good.map { d =>
      val w = d.text.split(" ")
      (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val parent = Array.tabulate(good.length)(identity)
    def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    for (i <- good.indices; j <- i + 1 until good.length) {
      val inter = (sh(i) intersect sh(j)).size
      if (inter.toDouble / (sh(i).size + sh(j).size - inter) >= threshold)
        parent(find(i)) = find(j)
    }
    good.indices.groupBy(find).values.map { members =>
      members.map(good(_)).maxBy(d => (d.text.length, d.id)).id
    }.toSet
  }
}
