package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg (dev-only; the driver always passes 2): comma-
    // separated query names — dump just those, e.g. the heavy set for
    // an sf1 differential where running all 116 would be wasteful
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet)
      else None
    // AQE's initial partition count (8x cores) sizes the shuffles
    val cpus = EngineDefaults.cpus
    val spark = EngineDefaults.local(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only: multi-file result dumps for row-giant sf100 legs — the
    // single-threaded coalesce(1) write dominates a 150 M-row dump and
    // tools/bigcheck.py globs the directory either way. The driver
    // never sets this; its sf0.01 dumps stay single-file.
    val noCoalesce = sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val res = fn(spark, sfDir)
        (if (noCoalesce) res else res.coalesce(1)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // leave an explicit marker so the gate counts this as a FAIL
        // instead of silently shrinking its denominator (an analysis
        // throw would otherwise write no result dir at all). The marker
        // write itself must not kill the run: when the FAILURE is
        // disk-full, writing the marker throws too, and an uncaught
        // throw here silently skips every remaining query (round-12
        // fifth-decade program lost t_lang_id to exactly this).
        try {
          val d = new java.io.File(s"$outDir/$name")
          d.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_VERIFY_FAILED"),
            String.valueOf(e.getMessage))
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed: " +
            s"${e2.getMessage}")
        }
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
