package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name subset (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Failures are collected into errors.json, not just stderr: round 10
    // closed with 16 queries silently ABSENT from the correctness gate
    // because their analysis errors only existed as scrolled-away log
    // lines. An artifact on disk makes a break a one-line diagnosis.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // the fixture and core count this dir was written from:
    // tools/check.py takes its oracle fixture from here, so an output
    // is never checked against another scale's tables
    val absSf = Paths.get(sfDir).toAbsolutePath.normalize.toString
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      s"""{"sf_dir": ${q(absSf)}, "cpus": ${Session.cpus}}""")
    val ran = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    println(s"[verify] ${ran - errors.size}/$ran queries wrote results; " +
      s"${errors.size} failed (see $outDir/errors.json)")
    spark.stop()
  }
}
