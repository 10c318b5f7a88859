package loadbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{BenchBridge, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Staging
import graft.dsl.Compile
import graft.export.Exports
import graft.operators.{Corpus, Graph, TextDedup, TextStats}
import graft.store.RecordStore

/** One closed-loop workload. [[build]] generates the inputs and builds
  * the state the ops need; [[prepare]] makes op `i`'s input (untimed);
  * [[op]] runs op `i` and returns the units of work it completed, or
  * throws. Output checks that fail count as wrong ops. */
trait Workload {
  def warmOps: Int
  def build(): Unit
  def prepare(i: Int): Unit = ()
  def op(i: Int): Done
  /** Whether every op does the same work, so that per-op figures are
    * samples of one quantity. */
  def sameWorkPerOp: Boolean = false
  /** Checks made once after the window; returns the number of wrong outputs. */
  def finalCheck(): Int = 0
  /** Frees what [[build]] and the ops hold, before the next build. */
  def reset(): Unit
}

final case class Done(units: Long, ok: Boolean)

/** Base time of the logical clock that stamps store versions. */
object Clock {
  val base: Long = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  def at(i: Int): Timestamp = new Timestamp(base + (i + 1) * 60000L)
}

/** `ingest`: a stream of recordset re-publications through the whole
  * ingest path; each op ends with a DSL probe for the batch's new uuids.
  * Units: records made searchable (new and changed records). */
final class IngestWorkload(spark: SparkSession, tr: Tracer, work: Path, seed: Long)
    extends Workload {
  val warmOps = 4
  private var gen: IngestGen = _
  private var pipe: Pipeline = _
  private var pending: Batch = _

  private def dir(i: Int) = work.resolve(f"ingest/b$i%05d")

  def build(): Unit = {
    Gen.deleteTree(work.resolve("ingest"))
    gen = new IngestGen(seed)
    pipe = new Pipeline(spark, tr)
    val first = gen.initialLoad(work.resolve("ingest/initial"))
    pipe.ingest(first.dir.toString, Clock.at(-1))
  }

  override def prepare(i: Int): Unit = {
    if (i > 0) Gen.deleteTree(dir(i - 1))
    pending = gen.republish(i, dir(i))
  }

  def op(i: Int): Done = {
    val b = pending
    val at = Clock.at(i)
    pipe.ingest(b.dir.toString, at)
    val visible = pipe.probe(b.recordsets.head, at)
    Done(b.newUuids.size + b.changed, visible == b.newUuids)
  }

  /** The store's latest versions, tombstones and bodies, and the index
    * contents, against the generator's model of the whole stream. */
  override def finalCheck(): Int = {
    val st = pipe.store
    val latest = st.latestVersions.join(st.data, Seq("etag"))
      .select(col("uuids_id"), col("etag"), col("version"), col("data"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getMap[String, String](3).toMap))
      .toMap
    val live = gen.liveRecords.map { case (u, _, c) => u -> c }.toMap
    val storeOk = latest.size == gen.versions.size && gen.versions.forall { case (u, (v, del)) =>
      latest.get(u).exists { case (etag, version, body) =>
        version == v && (if (del) etag == RecordStore.TombstoneEtag
                         else body == live(u).map { case (k, x) => s"dwc:$k" -> x })
      }
    }
    val indexed = pipe.index.get.select(col("uuid"), col("version")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val indexOk = indexed == live.keys.map(u => u -> gen.versions(u)._1.toLong).toMap
    if (!storeOk) System.err.println("ingest: the store disagrees with the generator's model")
    if (!indexOk) System.err.println("ingest: the index disagrees with the generator's model")
    Seq(storeOk, indexOk).count(!_)
  }

  def reset(): Unit = if (pipe != null) pipe.releaseAll()
}

/** One `search` request spec: its kind, the DSL JSON (queries and
  * downloads), the uuid (views), and the reference filter over the raw
  * generated columns. */
final case class Request(kind: String, json: String, uuid: String, ref: Column)

/** `search`: read-only portal traffic over a store and index built in
  * set-up — DSL searches of seven kinds, item views and small CSV
  * downloads, with Zipf-skewed keys. Units: requests answered. */
final class SearchWorkload(spark: SparkSession, tr: Tracer, work: Path, seed: Long)
    extends Workload {
  val warmOps = 21
  private var gen: IngestGen = _
  private var pipe: Pipeline = _
  private var raw: DataFrame = _
  private var requests: Vector[Request] = _
  private val results = mutable.LinkedHashMap.empty[Int, Seq[String]]

  /** Kind of each request within one block of 21. The mix is assumed:
    * nothing in the repository records portal traffic. Each of the three
    * user actions (search, view, download) takes a third of the
    * requests, and the seven search kinds share their third equally. */
  val pattern: Vector[String] =
    Vector("term", "terms", "range", "prefix", "exists", "geo", "fulltext")
      .flatMap(k => Vector(k, "view", "download"))
  /** Distinct keys per kind, drawn with Zipf exponent [[ZipfS]]; both
    * are assumed, chosen only so that repeats occur within one run. The
    * draws come from a fixed generator, [[Schedule]], not from the seed:
    * every seed sends the same sequence of (kind, key rank). */
  private val KeysPerKind = 8
  private val ZipfS = 1.2
  private val Schedule = 0x5eedL
  /** Rows of each download's CSV export that are checked. */
  private val CsvRows = 200
  private val CsvFields = Seq("scientificname", "country", "locality", "datecollected")

  /** The request spec of every (kind, key rank). Keys are stratified by
    * rank, so that every seed offers the same work per request and only
    * the records differ: key rank `r` of the genus-keyed kinds is the
    * `r`-th most common genus, of `terms` and `download` a fixed country,
    * of `range` a fixed interval, and a `view` of an even rank reads a
    * record with a media sibling, of an odd rank one without. Geo boxes
    * and fulltext tokens are taken from a seeded record, so they always
    * match. */
  private def specs(rng: scala.util.Random): Vector[Request] = {
    val live = gen.liveRecords.toVector
    def pick = live(rng.nextInt(live.size))._3
    def low(c: String) = lower(col(c))
    pattern.distinct.flatMap { kind => (0 until KeysPerKind).map { rank =>
      val g = Gen.genera(rank)
      kind match {
        case "term" =>
          Request(kind, s"""{"genus": "$g"}""", null, low("genus") === g.toLowerCase)
        case "terms" =>
          val (a, b) = (Gen.countries(rank)._1, Gen.countries(rank + 4)._1)
          Request(kind, s"""{"country": ["$a", "$b"], "basisofrecord": "preservedspecimen"}""", null,
            low("country").isin(a.toLowerCase, b.toLowerCase) &&
              low("basisOfRecord") === "preservedspecimen")
        case "range" =>
          val lo = 1 + 5 * rank
          Request(kind, s"""{"individualcount": {"type": "range", "gte": $lo, "lt": ${lo + 3}}, "kingdom": "plantae"}""",
            null, col("individualCount").cast("double") >= lo &&
              col("individualCount").cast("double") < lo + 3 && low("kingdom") === "plantae")
        case "prefix" =>
          val p = g.take(5).toLowerCase
          Request(kind, s"""{"scientificname": {"type": "prefix", "value": "$p"}}""", null,
            low("scientificName").startsWith(p))
        case "exists" =>
          Request(kind, s"""{"stateprovince": {"type": "exists"}, "genus": "$g"}""", null,
            col("stateProvince").isNotNull && low("genus") === g.toLowerCase)
        case "geo" =>
          val r = pick
          val (lat, lon) = (r("decimalLatitude").toDouble, r("decimalLongitude").toDouble)
          val (top, left, bottom, right) = (lat + 2, lon - 3, lat - 2, lon + 3)
          Request(kind, s"""{"geopoint": {"type": "geo_bounding_box",
            "top_left": {"lat": $top, "lon": $left}, "bottom_right": {"lat": $bottom, "lon": $right}}}""",
            null, col("lat") <= top && col("lat") >= bottom && col("lon") >= left && col("lon") <= right)
        case "fulltext" =>
          val toks = pick("locality").split(" ").take(2).mkString(" ")
          Request(kind, s"""{"locality": {"type": "fulltext", "value": "$toks"}}""", null,
            toks.split(" ").map(t => array_contains(split(low("locality"), "\\s+"), t)).reduce(_ && _))
        case "view" =>
          // records at positions divisible by 5 have a media sibling
          val media = rank % 2 == 0
          val at = Iterator.continually(rng.nextInt(live.size)).find(i => (i % 5 == 0) == media).get
          Request(kind, null, live(at)._1, null)
        case "download" =>
          val c = Gen.countries(rank % 4)._1
          Request(kind, s"""{"country": "$c", "kingdom": "plantae"}""", null,
            low("country") === c.toLowerCase && low("kingdom") === "plantae")
      }
    }}
  }

  def build(): Unit = {
    Gen.deleteTree(work.resolve("search"))
    gen = new IngestGen(seed)
    pipe = new Pipeline(spark, tr)
    val first = gen.initialLoad(work.resolve("search/initial"))
    pipe.ingest(first.dir.toString, Clock.at(-1))
    // every fifth record has one media record as its sibling
    import spark.implicits._
    val media = gen.liveRecords.zipWithIndex.collect { case ((u, _, _), i) if i % 5 == 0 =>
      (u, Gen.md5("media/" + u)) }
    val edges = media.toDF("r1", "r2").transform(BenchBridge.cut)
    val mediaUuids = media.map { case (u, m) => (m, "mediarecords", u, false) }
      .toDF("uuid", "type", "parent", "deleted")
    val registry = pipe.uuids.union(mediaUuids).transform(BenchBridge.cut)
    Pipeline.release(pipe.uuids)
    pipe.uuids = registry
    pipe.siblings = edges
    raw = gen.liveRecords.map { case (u, rs, c) =>
      (u, rs, c("scientificName"), c("genus"), c("country"), c.get("stateProvince"),
        c("locality"), c("decimalLatitude").toDouble, c("decimalLongitude").toDouble,
        c("individualCount"), c("basisOfRecord"), c("kingdom"), c("eventDate"))
    }.toDF("uuid", "recordset", "scientificName", "genus", "country", "stateProvince",
      "locality", "lat", "lon", "individualCount", "basisOfRecord", "kingdom", "eventDate")
      .transform(BenchBridge.cut)
    requests = specs(new scala.util.Random(seed ^ 0x5eed))
    drawRng = new scala.util.Random(Schedule)
    order.clear()
    results.clear()
  }

  private val zipf = new Gen.Zipf(KeysPerKind, ZipfS)
  private var drawRng: scala.util.Random = _
  private val order = mutable.ArrayBuffer.empty[Int]

  /** Request `i`: the pattern's kind, a Zipf-drawn key of that kind. */
  private def requestIndex(i: Int): Int = {
    while (order.size <= i) {
      val kind = pattern(order.size % pattern.size)
      order += pattern.distinct.indexOf(kind) * KeysPerKind + zipf.draw(drawRng)
    }
    order(i)
  }

  private def search(json: String): DataFrame = {
    val q = tr.span("dsl", "Compile.fromJson") { Compile.fromJson(json, Pipeline.DslOptions) }
    pipe.index.get.where(q)
  }

  def op(i: Int): Done = {
    val k = requestIndex(i)
    val r = requests(k)
    val out: Seq[String] = r.kind match {
      case "view" => tr.span("store", "views") {
        val st = pipe.store
        val u = col("uuids_id") === r.uuid
        Seq(st.latestVersions.where(u).select(col("version").cast("string")),
          st.identifiersView.where(u).select(array_join(col("recordids"), ",")),
          st.siblingsView.where(u).select(to_json(col("siblings"))))
          .map(df => Act.collect(df, tr).map(_.getString(0)).mkString)
      }
      case "download" =>
        val hits = search(r.json)
        tr.span("export", "download") {
          val csv = Act.collect(Exports.csvFormat(hits, "records", "uuid", CsvFields)
            .orderBy(col("uuid")).limit(CsvRows), tr).map(_.mkString(",")).toSeq
          tr.count("bytes_out", csv.map(_.length + 1).sum.toDouble)
          csv ++ Act.collect(Exports.citationCounts(hits, "recordset"), tr)
            .map(c => s"${c.getString(0)}=${c.getLong(1)}").toSeq
        }
      case _ =>
        val hits = search(r.json).select(col("uuid")).orderBy(col("uuid")).limit(100)
        tr.span("query", "search") {
          val rows = Act.collect(hits, tr).map(_.getString(0)).toSeq
          if (tr.enabled) {
            tr.count("scanned", Act.rowsScanned(hits).toDouble)
            tr.count("hits", rows.size.toDouble)
          }
          rows
        }
    }
    val same = results.get(k).forall(_ == out)
    if (!results.contains(k)) results(k) = out
    Done(1, same)
  }

  /** Every distinct request seen, against a reference computed with
    * plain DataFrame filters over the raw generated columns (searches
    * and downloads) or from the generator's model (views). */
  override def finalCheck(): Int = {
    val idents = gen.identifierOf
    // one scan tags every raw row with the requests whose filter it
    // passes; ordering, top-N and counting are then done per request
    val filtered = results.keys.filter(k => requests(k).kind != "view").toSeq
    val hitsOf: Map[Int, Seq[org.apache.spark.sql.Row]] =
      if (filtered.isEmpty) Map.empty
      else raw.select(col("uuid"), col("recordset"),
          // the index holds text lowercased and dates as midnight timestamps
          lower(col("scientificName")), lower(col("country")), lower(col("locality")),
          concat(col("eventDate"), lit(" 00:00:00")),
          explode(array(filtered.map(k => when(requests(k).ref, lit(k))): _*)).as("k"))
        .where(col("k").isNotNull).collect().toSeq
        .groupBy(_.getInt(6)).map { case (k, rows) => k -> rows.sortBy(_.getString(0)) }
    results.count { case (k, got) =>
      val r = requests(k)
      val hits = hitsOf.getOrElse(k, Nil)
      val want: Seq[String] = r.kind match {
        case "view" =>
          val v = gen.versions(r.uuid)._1
          val m = Gen.md5("media/" + r.uuid)
          val sib = if (gen.liveRecords.indexWhere(_._1 == r.uuid) % 5 == 0)
            s"""{"mediarecords":["$m"]}""" else ""
          Seq(v.toString, idents(r.uuid), sib)
        case "download" =>
          hits.take(CsvRows).map(h => (0 until 6).filter(_ != 1).map(h.get).mkString(",")) ++
            hits.groupBy(_.getString(1)).toSeq.map { case (rs, n) => (rs, n.size) }
              .sortBy { case (rs, n) => (-n, rs) }.map { case (rs, n) => s"$rs=$n" }
        case _ =>
          hits.take(100).map(_.getString(0))
      }
      if (got != want) System.err.println(s"search: ${r.kind} ${r.json} ${r.uuid} gave $got, want $want")
      got != want
    }
  }

  def reset(): Unit = {
    if (pipe != null) pipe.releaseAll()
    if (raw != null) Pipeline.release(raw)
  }
}

/** `curate`: repeated passes over document shards — quality filter
  * (staged per shard), MinHash LSH near-dup detection with exact Jaccard
  * verification, connected components + keep-best, chunk packing.
  * Units: documents curated. */
final class CurateWorkload(spark: SparkSession, tr: Tracer, work: Path, seed: Long)
    extends Workload {
  /** Two shards, so that passes revisit staged keys within a run. */
  val Shards = 2
  val DocsPerShard = 64
  val Threshold = 0.5
  val ChunkTokens = 512
  /** One pass per shard: the staging builds land in set-up, and every
    * pass of the window is served by a staged key. */
  val warmOps = Shards
  override def sameWorkPerOp = true
  private var paths: Vector[Path] = _
  private var expected: Vector[(Set[Long], Long)] = _
  private var cycle: Vector[Int] = _

  private val schema = new StructType().add("doc_id", LongType)
    .add("source", StringType).add("text", StringType)

  def build(): Unit = {
    Gen.deleteTree(work.resolve("curate"))
    val gen = new DocGen(seed, Shards, DocsPerShard)
    paths = gen.writeShards(work.resolve("curate"))
    expected = gen.docs.map { ds =>
      val keep = CurateReference.survivors(ds, Threshold)
      val tokens = ds.filter(d => keep(d.id)).map(_.text.split(" ").length.toLong).sum
      (keep, (tokens + ChunkTokens - 1) / ChunkTokens)
    }
    cycle = new scala.util.Random(seed).shuffle((0 until Shards).toVector)
  }

  def op(i: Int): Done = {
    val s = cycle(i % Shards)
    val path = paths(s).toString
    val key = s"loadbench:qdocs:$path"
    val docs = tr.span("staging", "Staging.stage") {
      tr.count("stage_calls", 1)
      if (Staging.stagedKeys(spark).contains(key)) tr.count("stage_hits", 1)
      Staging.stage(spark, key) {
        spark.read.schema(schema).json(path)
          .where(size(TextStats.qualityFlags(col("text"))) === 0)
          .withColumn("n_chars", length(col("text")))
          .withColumn("n_tokens", size(split(col("text"), " ")))
      }
    }
    val (sh, sigs) = tr.span("operators", "minhashSignatures") {
      val sh = tr.boundary(docs.select(col("doc_id"),
        explode(TextDedup.shingles(col("text"), 3)).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h")))
      (sh, tr.boundary(TextDedup.minhashSignatures(sh, "doc_id")))
    }
    val cands = tr.span("operators", "lshCandidates") {
      tr.boundary("candidates", TextDedup.lshCandidates(sigs, "doc_id"))
    }
    val pairs = tr.span("operators", "verifyJaccard") {
      tr.boundary("verified", TextDedup.verifyJaccardOnCandidates(sh, "doc_id", cands)
        .where(col("jaccard") >= Threshold))
    }
    val kept = tr.span("operators", "components") {
      val labels = Graph.connectedComponents(pairs, "d1", "d2")
      tr.boundary(Graph.keepBest(docs, "doc_id", labels, "n_chars"))
    }
    val packed = tr.span("operators", "packChunks") {
      Act.collect(Corpus.packChunks(kept, "doc_id", "n_tokens", ChunkTokens)
        .select(col("doc_id"), col("last_chunk")), tr)
    }
    val (keep, chunks) = expected(s)
    val ok = packed.map(_.getLong(0)).toSet == keep &&
      packed.map(_.getLong(1)).max + 1 == chunks
    Done(DocsPerShard, ok)
  }

  def reset(): Unit = {
    Staging.evictSession(spark)
    Staging.releasePinned(spark)
  }
}
