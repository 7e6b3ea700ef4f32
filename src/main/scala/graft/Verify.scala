package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/oracle_check.py). Exits
  * 1 after the sweep if any selected query threw or has no oracle. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd+ args: query names to dump only those (dev triage —
    // the 2-arg invocation sweeps everything). An unknown name fails
    // loudly: a silently-ignored name reads as "query passed".
    val Array(sfDir, outDir) = args.take(2)
    val selected = SparkEntry.registry.select(args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GraftSession.builder IS the session contract (UTC, the explicit
    // ANSI pin from round-15 ask #7, AQE, aggregate threshold,
    // extensions) — review r19d: the harness mains build on the shared
    // factory and add only their own knobs, so a future contract pin
    // cannot be missed in one of three hand-rolled copies.
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.silenceBoundedWindowWarning()
    GraftSession.silenceSnapshotFreeWarning()
    new java.io.File(outDir).mkdirs()
    val threw = selected.filter { d =>
      val failed =
        try {
          d.run(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${d.name}")
          false
        } catch { case e: Throwable =>
          System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
          true
        }
      // Queries share no state: drop any localCheckpoint snapshots the
      // query pinned (DedupClusters/CorpusPipeline/SimHash) so the sweep
      // doesn't accumulate dead blocks in one session.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      failed
    }.map(_.name)
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
    val oracles = SparkEntry.oracleSql
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val noOracle = selected.map(_.name).filterNot(oracles.contains)
    if (threw.nonEmpty || noOracle.nonEmpty) {
      if (threw.nonEmpty) System.err.println(s"[verify] threw: ${threw.mkString(", ")}")
      if (noOracle.nonEmpty) System.err.println(s"[verify] no oracle: ${noOracle.mkString(", ")}")
      sys.exit(1)
    }
  }
}
