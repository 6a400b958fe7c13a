package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query names — dump only those
    // (sf0.1 spot checks of new queries without paying the full suite)
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // No ASCII guard needed any more (round-6): the PolyHash/Winnow hash
    // expressions iterate UNICODE CODE POINTS — the same units as DuckDB's
    // code-point-based ord()/length()/substring() — so the MinHash/SimHash/
    // Winnow SQL oracles replay bit-exactly for ANY corpus (validated with a
    // planted UTF-8 corpus: accents, CJK, and supplementary-plane emoji all
    // hash-match through tools/check.py).
    new java.io.File(outDir).mkdirs()
    // sorted key order: the run log and oracle_sql.json compare across commits
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // self-diagnosing gate: an erroring query must appear in the
        // artifact as an err row, never vanish (round 6 lost a whole block
        // to silent absences). The driver/check tool sees <name>.err where
        // the result parquet would be.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Files.writeString(Paths.get(s"$outDir/$name.err"),
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(4000)}")
      }
      // several queries persist intermediates; drop them so 56 queries
      // don't accumulate cached blocks in one JVM
      spark.catalog.clearCache()
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
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
