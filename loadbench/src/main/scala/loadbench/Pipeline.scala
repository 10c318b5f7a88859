package loadbench

import java.sql.Timestamp

import org.apache.spark.sql.{BenchBridge, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl.Compile
import graft.etl.{Corrections, Enrich}
import graft.hash.Etags
import graft.ingest.Dwca
import graft.store.RecordStore
import graft.streaming.Incremental

/** The nightly ingest path, composed from the program's public layer
  * functions: DwC-A read → etag → versioned store write → incremental
  * pull → enrich + corrections → index upsert. The store tables and the
  * index are held as eager local checkpoints and replaced batch by
  * batch, so plans do not grow with the number of batches. */
final class Pipeline(spark: SparkSession, tr: Tracer) {
  import Pipeline._

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  var uuids: DataFrame = empty(UuidsSchema)
  var data: DataFrame = empty(DataSchema)
  var uuidsData: DataFrame = empty(LogSchema)
  var identifiers: DataFrame = empty(IdentifiersSchema)
  var siblings: DataFrame = empty(SiblingsSchema)
  var index: Option[DataFrame] = None
  var watermark = new Timestamp(0L)

  def store: RecordStore = RecordStore(uuids, data, uuidsData, identifiers, siblings)

  /** Store and index writes append by union, which adds the batch's
    * partitions to the table's; each write therefore compacts the table
    * back to one partition per core as it checkpoints it. */
  private def compact(df: DataFrame): DataFrame =
    BenchBridge.cut(df.coalesce(spark.sparkContext.defaultParallelism))

  def releaseAll(): Unit =
    (Seq(uuids, data, uuidsData, identifiers, siblings) ++ index).foreach(release)

  def ingest(dir: String, modified: Timestamp): Unit = {
    val core = tr.span("ingest", "Dwca.read") {
      val (c, _) = Dwca.read(spark, dir)
      tr.boundary(c.select(
        col("id").as("identifier"),
        col("`dwc:datasetID`").as("recordset"),
        map_from_entries(filter(array(c.columns.filter(_ != "id").map(k =>
          struct(lit(k).as("k"), col(s"`$k`").as("v"))).toIndexedSeq: _*),
          e => e.getField("v").isNotNull)).as("data")))
    }
    // the hashed batch feeds the version assignment and three table
    // writes, so it is materialized once
    val hashed = tr.span("hash", "Etags.etagColumn") {
      BenchBridge.cut(core
        .withColumn("uuid", md5(concat(col("recordset"), lit("/"), col("identifier"))))
        .withColumn("etag", Etags.etagColumn(col("data"))))
    }
    val st = store
    val (versioned, bodies, fresh) = tr.span("store", "assignVersions") {
      val latest = st.latestVersions.select(col("uuids_id").as("uuid"), col("etag").as("_cur"))
      val changed = hashed.join(latest, Seq("uuid"), "left")
        .where(col("_cur").isNull || col("_cur") =!= col("etag"))
      val dels = st.uuids.where(!col("deleted"))
        .join(hashed.select(col("recordset").as("parent")).distinct(), Seq("parent"), "left_semi")
        .join(hashed.select(col("uuid")), Seq("uuid"), "left_anti")
        .select(col("uuid"), lit(RecordStore.TombstoneEtag).as("etag"))
      val v = BenchBridge.cut(st.assignVersions(changed.select(col("uuid"), col("etag")).union(dels))
        .select(col("uuid").as("uuids_id"), col("etag").as("data_etag"),
          lit(modified).as("modified"), col("version")))
      val b = BenchBridge.cut(st.newBodies(changed.select(col("etag"), col("data"))
        .union(spark.range(1).select(lit(RecordStore.TombstoneEtag).as("etag"),
          map(lit("deleted"), lit("true")).as("data")))
        .dropDuplicates("etag")))
      val f = BenchBridge.cut(hashed.join(st.uuids, Seq("uuid"), "left_anti")
        .select(col("uuid"), col("identifier"), col("recordset")))
      if (tr.enabled) {
        tr.count("offered", Act.count(hashed, tr).toDouble)
        tr.count("versions", Act.count(v, tr).toDouble)
      }
      (v, b, f)
    }
    tr.span("store", "write") {
      val tombs = versioned.where(col("data_etag") === RecordStore.TombstoneEtag)
        .select(col("uuids_id").as("uuid"), lit(true).as("_del"))
      val next = Seq(
        uuids.join(tombs, Seq("uuid"), "left")
          .select(col("uuid"), col("type"), col("parent"),
            (col("deleted") || coalesce(col("_del"), lit(false))).as("deleted"))
          .union(fresh.select(col("uuid"), lit("records").as("type"),
            col("recordset").as("parent"), lit(false).as("deleted"))),
        identifiers.union(fresh.select(col("identifier"), col("uuid").as("uuids_id"))),
        uuidsData.union(versioned),
        data.union(bodies)).map(compact)
      // the new tables are read from the old ones, so free those last
      Seq(uuids, identifiers, uuidsData, data, hashed, versioned, bodies, fresh).foreach(release)
      uuids = next(0); identifiers = next(1); uuidsData = next(2); data = next(3)
      if (tr.enabled) tr.count("write_mb", next.map(storedMb).sum)
    }
    val pulled = tr.span("streaming", "incrementalBatch") {
      tr.boundary("pulled", Incremental.incrementalBatch(uuidsData, lit(watermark)))
    }
    val toIndex = pulled.where(col("etag") =!= RecordStore.TombstoneEtag)
      .join(data, Seq("etag"))
      .join(uuids.select(col("uuid").as("uuids_id"), col("parent")), Seq("uuids_id"))
      .select(col("uuids_id").as("uuid"), col("etag"), col("version"),
        col("parent"), col("modified"), col("data"))
    val enriched = tr.span("etl", "Enrich.records") { tr.boundary(Enrich.records(toIndex)) }
    val corrected = tr.span("etl", "Corrections.apply") {
      tr.boundary(Corrections.foldFlags(Corrections.apply(enriched, rules, fieldCol)))
    }
    tr.span("streaming", "index") {
      val rows = corrected.select(IndexCols.map(col): _*)
      val next = index match {
        case Some(ix) => ix.join(pulled.select(col("uuids_id").as("uuid")), Seq("uuid"), "left_anti")
          .union(rows)
        case None => rows
      }
      val cut = compact(next)
      index.foreach(release)
      index = Some(cut)
      watermark = modified
      if (tr.enabled) tr.count("rows_indexed", Act.count(rows, tr).toDouble)
    }
  }

  /** The visibility probe: a DSL search for the records a batch added
    * to `recordset` (version 0, modified at the batch's time). */
  def probe(recordset: String, modified: Timestamp): Set[String] = {
    val q = tr.span("dsl", "Compile.fromJson") {
      Compile.fromJson(s"""{"recordset": "$recordset", "version": 0,
        "modified": {"type": "range", "gte": "$modified"}}""", DslOptions)
    }
    tr.span("query", "probe") {
      Act.collect(index.get.where(q).select(col("uuid")), tr).map(_.getString(0)).toSet
    }
  }
}

object Pipeline {
  val UuidsSchema: StructType = new StructType().add("uuid", StringType)
    .add("type", StringType).add("parent", StringType).add("deleted", BooleanType)
  val DataSchema: StructType = new StructType().add("etag", StringType)
    .add("data", MapType(StringType, StringType))
  val LogSchema: StructType = new StructType().add("uuids_id", StringType)
    .add("data_etag", StringType).add("modified", TimestampType).add("version", LongType)
  val IdentifiersSchema: StructType = new StructType().add("identifier", StringType)
    .add("uuids_id", StringType)
  val SiblingsSchema: StructType = new StructType().add("r1", StringType).add("r2", StringType)

  /** Index columns kept from the enriched, corrected records. */
  val IndexCols: Seq[String] = Seq("uuid", "etag", "version", "recordset", "modified",
    "scientificname", "genus", "specificepithet", "family", "kingdom", "country",
    "countrycode", "stateprovince", "locality", "geopoint", "individualcount",
    "datecollected", "basisofrecord", "institutioncode", "flags", "dqs",
    "correction_flags")

  val DslOptions: Compile.Options = Compile.Options(dataNormalized = true)

  /** Country → ISO code corrections, plus one kingdom rule. */
  val rules: Seq[Corrections.Rule] =
    Gen.countries.map { case (c, iso) =>
      Corrections.Rule(Map("dwc:country" -> c.toLowerCase), Map("idigbio:isoCountryCode" -> iso))
    } :+ Corrections.Rule(Map("dwc:kingdom" -> "plantae"), Map("dwc:phylum" -> "tracheophyta"))

  val fieldCol: String => String = Map(
    "dwc:country" -> "country", "idigbio:isoCountryCode" -> "countrycode",
    "dwc:kingdom" -> "kingdom", "dwc:phylum" -> "phylum")

  /** Free the blocks behind an eager local checkpoint. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _             => ()
  }

  /** Storage held by the checkpoint behind `df`, in MB. */
  def storedMb(df: DataFrame): Double = df.queryExecution.logical match {
    case r: LogicalRDD =>
      df.sparkSession.sparkContext.getRDDStorageInfo.filter(_.id == r.rdd.id)
        .map(i => (i.memSize + i.diskSize) / 1048576.0).sum
    case _ => 0.0
  }
}
