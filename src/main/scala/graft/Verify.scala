package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract is the 2-arg form; extra args are a dev-loop filter
    // (run only the named queries) and never passed by the driver
    val (sfDir, outDir, only) = (args(0), args(1),
      if (args.length > 2) Some(args.drop(2).toSet) else None)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS) — see graft.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Determinism for the driver's hash-compare lives HERE, not in the
    // query definitions: sort by every column in schema order and write a
    // single file. CONTRACT (tested by OracleContractSpec): every
    // multi-row oracle SQL must end with ORDER BY over ALL its output
    // columns in the same order, so both sides apply the identical total
    // order — no uniqueness assumption on any key column is needed. This
    // is a verify-only artifact — Bench and library callers get the
    // unsorted distributed plan.
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // asc_nulls_last: Spark's bare asc sorts NULLS FIRST, DuckDB's
        // default ORDER BY sorts NULLS LAST — a NULL in any sort column
        // would otherwise dump identical row sets in different orders.
        df.orderBy(df.columns.map(c =>
            org.apache.spark.sql.functions.col(c).asc_nulls_last).toSeq: _*)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only (the Bench discipline): an OutOfMemoryError must
        // stop the dump, not be logged while later queries run in a
        // damaged JVM
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
