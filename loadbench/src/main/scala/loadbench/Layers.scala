package loadbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, from its spans. The ingest-path
  * layers (ingest, hash, store writes, etl, streaming) are per batch
  * ingested, over every traced span; on `search` that is the traced
  * set-up build. Every other figure comes from the spans of the traced
  * window only: times are a layer's self time per op, counts are per op,
  * ratios are totals over totals. A layer a workload does not call
  * reads 0. */
object Layers {

  def metrics(spark: SparkSession, tr: Tracer, w: Main.Window): Seq[(String, Double, String)] = {
    val spans = tr.spans
    val self = Spans.selfTimes(spans)
    val ops = math.max(1, w.ops).toDouble
    val inWindow = spans.filter(_.startNs >= w.startNs)
    def sel(layer: String, name: String = null, from: Seq[Span] = inWindow) =
      from.filter(s => s.layer == layer && (name == null || s.name == name))
    def path(layer: String, name: String = null) = sel(layer, name, spans)
    val batches = math.max(1, spans.count(s => s.layer == "ingest")).toDouble
    def selfMs(ss: Seq[Span], per: Double = ops) = ss.map(s => self(s.id)).sum / 1e6 / per
    def ctr(ss: Seq[Span], k: String) = ss.map(s => tr.counter(s.id, k)).sum
    def acc(ss: Seq[Span])(f: Acc => Long) = ss.flatMap(s => tr.acc(s.id)).map(f).sum.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val read = path("ingest")
    val version = path("store", "assignVersions")
    val enrich = path("etl", "Enrich.records")
    val queries = sel("query", "search")
    val stage = sel("staging")
    val cands = sel("operators", "lshCandidates")
    val verify = sel("operators", "verifyJaccard")
    val t = w.totals
    val builds = graft.Staging.buildSeconds(spark).values
    val pinnedMb = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.callSite.contains("Graph.scala") || i.callSite.contains("TextDedup.scala"))
      .map(i => (i.memSize + i.diskSize) / 1048576.0).sum
    Seq(
      ("ingest.read_ms", selfMs(read, batches), "ms"),
      ("ingest.rows", ctr(read, "rows") / batches, "count"),
      ("ingest.partitions", ratio(acc(read)(_.maxStageTasks.get), read.size), "count"),
      ("hash.etag_ms", selfMs(path("hash"), batches), "ms"),
      ("store.version_ms", selfMs(version, batches), "ms"),
      ("store.new_version_ratio", ratio(ctr(version, "versions"), ctr(version, "offered")), "ratio"),
      ("store.write_mb", ctr(path("store", "write"), "write_mb") / batches, "MB"),
      ("store.view_ms", selfMs(sel("store", "views")), "ms"),
      ("etl.enrich_ms", selfMs(enrich, batches), "ms"),
      ("etl.enrich_cpu_ms", acc(enrich)(_.cpuNs.get) / 1e6 / batches, "ms"),
      ("etl.parallelism", ratio(acc(enrich)(_.runMs.get),
        enrich.map(s => (s.endNs - s.startNs) / 1e6).sum), "ratio"),
      ("etl.correct_ms", selfMs(path("etl", "Corrections.apply"), batches), "ms"),
      ("streaming.index_ms", selfMs(path("streaming"), batches), "ms"),
      ("streaming.rows_indexed", ctr(path("streaming", "index"), "rows_indexed") / batches, "count"),
      ("dsl.compile_ms", selfMs(sel("dsl")), "ms"),
      ("spark.plan_ms", inWindow.map(s => tr.counter(s.id, "plan_ms")).sum / ops, "ms"),
      ("spark.jobs_per_op", t.jobs / ops, "count"),
      ("spark.tasks_per_op", t.tasks / ops, "count"),
      ("spark.sched_delay_ms", t.schedMs / ops, "ms"),
      ("spark.shuffle_write_mb", t.shuffleWriteMb / ops, "MB"),
      ("spark.spill_mb", t.spillMb / ops, "MB"),
      ("plans.rows_scanned_per_hit", ratio(ctr(queries, "scanned"), ctr(queries, "hits")), "ratio"),
      ("export.download_ms", selfMs(sel("export")), "ms"),
      ("export.bytes_out", ctr(sel("export"), "bytes_out") / ops, "bytes"),
      ("operators.minhash_ms", selfMs(sel("operators", "minhashSignatures")), "ms"),
      ("operators.candidates", ctr(cands, "candidates") / ops, "count"),
      ("operators.candidate_precision", ratio(ctr(verify, "verified"), ctr(cands, "candidates")), "ratio"),
      ("operators.verify_ms", selfMs(verify), "ms"),
      ("operators.components_ms", selfMs(sel("operators", "components")), "ms"),
      ("operators.pack_ms", selfMs(sel("operators", "packChunks")), "ms"),
      ("staging.build_s", ratio(builds.sum, builds.size), "s"),
      ("staging.reuse_ratio", ratio(ctr(stage, "stage_hits"), ctr(stage, "stage_calls")), "ratio"),
      ("cut.jobs", t.cutJobs / ops, "count"),
      ("cut.pinned_mb", pinnedMb, "MB"),
      ("jvm.jit_ms", w.jitMs.toDouble, "ms"),
      ("jvm.gc_ms", w.gcMs.toDouble, "ms"),
    )
  }

  /** Every span of the traced window with its self time, task metrics
    * and counters, as one JSON file. */
  def dump(tr: Tracer, out: Path): Unit = {
    val self = Spans.selfTimes(tr.spans)
    val rows = tr.spans.sortBy(_.id).map { s =>
      val a = tr.acc(s.id)
      def g(f: Acc => Long) = a.map(f).getOrElse(0L)
      Json.obj("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> self(s.id) / 1e6, "jobs" -> g(_.jobs.get), "tasks" -> g(_.tasks.get),
        "cpu_ms" -> g(_.cpuNs.get) / 1e6, "run_ms" -> g(_.runMs.get),
        "shuffle_write_b" -> g(_.shuffleWriteB.get), "spill_b" -> g(_.spillB.get),
        "plan_ms" -> tr.counter(s.id, "plan_ms"))
    }
    Files.createDirectories(out.getParent)
    Files.writeString(out, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
