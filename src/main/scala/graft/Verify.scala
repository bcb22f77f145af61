package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q45,q27 dumps a subset (substring match) for fast
    // single-query iteration — same contract as Bench's filter. selfcheck
    // only compares the dirs that exist, so a partial dump is comparable.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    // SPARK_GRAFT_EXPLAIN=1: print each selected query's formatted physical
    // plan instead of dumping results — the plan-shape audit loop
    // (.explain until it's the plan you'd want, not the first that passes).
    val explainOnly = sys.env.get("SPARK_GRAFT_EXPLAIN").exists(_ == "1")
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
      .foreach { case (name, fn) =>
        if (explainOnly) {
          println(s"\n===== $name =====")
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"[explain] $name failed: ${e.getMessage}") }
        } else
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A PREVIOUS run's output must not survive this run's failure:
        // the gate reuses outDir, and a stale parquet dir would let
        // selfcheck PASS a regressed query.
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          import scala.jdk.CollectionConverters._
          Files.walk(stale).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // compare's json.load fail and silently zero the correctness check.
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
