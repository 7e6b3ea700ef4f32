package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Retail-tier backfill at amplified scale (round-19 verdict ask #7):
  * the corpus tier has gen-100/300/1000 octaves, but the warehouse
  * pipeline's RunReference (31 real Day_Wise CSVs, ~500 k events) had
  * never been probed beyond 1×. This main amplifies the reference's own
  * raw days by an integer factor and runs the SAME backfill through the
  * SAME pipeline with the Bench-style executor-stats listener, so the
  * dynamic-partition-overwrite write path and the dim rebuild carry
  * measured shuffle/spill evidence at 10×/30×.
  *
  * Amplification is faithful to how the feed actually grows: each raw
  * row is replicated `amp`× with a DISTINCT user (user_id offset by
  * copy × 10⁹ — far above the reference's 5.2×10⁸ id ceiling, so copies
  * never collide with real users) and a copy-suffixed user_session;
  * event_time, product, category, brand and price stay as captured, so
  * dim_product cardinality is constant (as in production — catalogs
  * don't grow 30× because traffic does) while dim_user and the fact
  * grain scale linearly. Deterministic (no RNG), single CSV per day dir
  * (the exact layout [[graft.io.Sources.rawEventsCsv]] scans).
  *
  * Usage: runMain graft.tools.BackfillProbe <amp> [rawOut] [refRoot]
  * Prints one `PROBE {...}` JSON line: amp, days, staging/fact/dim
  * counts, wall seconds for amplify and backfill, and the backfill's
  * input/shuffle/spill stats (same fields as Bench's per-row stats).
  */
object BackfillProbe {

  def main(args: Array[String]): Unit = {
    val amp = args.headOption.map(_.toInt).getOrElse(10)
    require(amp >= 1, s"amp must be >= 1, got $amp")
    val rawOut = args.lift(1).getOrElse(s"/tmp/graft-amp-$amp")
    val refRoot = args.lift(2).getOrElse(graft.RunReference.DefaultRawRoot)
    val wh = s"/tmp/graft-probe-wh-${ProcessHandle.current().pid()}"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // GraftSession.builder carries the engine session contract (UTC,
    // ANSI, AQE, extensions, the ObjectHashAggregate threshold) so the
    // probe measures the pipeline under the SAME aggregate-execution
    // settings as the suite it extends — review r19: a fifth hand-rolled
    // builder had silently omitted the threshold pin.
    val spark = graft.GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val days = (1 to 31).map(d => f"2019-10-$d%02d")

    // ---- amplify (skipped only when THIS amp already owns rawOut) ----
    // One fixed marker whose CONTENT is the amp value: a stale per-amp
    // marker from an earlier run at a different factor must not let the
    // probe label 30× data as amp=10 (review r19).
    val t0 = System.nanoTime()
    val marker = java.nio.file.Paths.get(s"$rawOut/.amp-complete")
    val markerAmp =
      if (java.nio.file.Files.exists(marker))
        scala.util.Try(java.nio.file.Files.readString(marker).trim.toInt).toOption
      else None
    if (!markerAmp.contains(amp)) {
      java.nio.file.Files.deleteIfExists(marker)
      days.foreach { d =>
        val raw = graft.io.Sources.rawEventsCsv(spark, refRoot, d)
        val amped = raw
          .crossJoin(broadcast(spark.range(amp).select(col("id").as("__copy"))))
          .select(
            col("event_time"), col("event_type"), col("product_id"),
            col("category_id"), col("category_code"), col("brand"),
            col("price"),
            (col("user_id") + col("__copy") * lit(1000000000L)).as("user_id"),
            when(col("__copy") === 0L, col("user_session"))
              .otherwise(concat(col("user_session"), lit("-c"),
                col("__copy").cast("string"))).as("user_session"),
            col("event_date"))
        // one CSV object per day dir — the reference's S3 layout, and the
        // single-file write is the amplifier's cost, not the pipeline's
        amped.coalesce(1).write.mode("overwrite")
          .option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ssXXX")
          .csv(s"$rawOut/Day_Wise/$d/event.csv")
      }
      java.nio.file.Files.writeString(marker, s"$amp\n")
    }
    val ampSec = (System.nanoTime() - t0) / 1e9

    // ---- backfill under the stats listener ----
    // Bench's own QueryStatsListener (shared since review r19d — the
    // probe's first cut re-implemented it verbatim minus the
    // started==ended drain guard): same fields, same quiesce discipline,
    // one definition to evolve.
    val listener = new graft.Bench.QueryStatsListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val pipeline = new graft.pipeline.RetailPipeline(spark, rawOut, s"$wh/mart")
    val t1 = System.nanoTime()
    val ran = pipeline.backfill(days.head, days.last)
    val backfillSec = (System.nanoTime() - t1) / 1e9
    // Snapshot the stats NOW, after the quiesce — the verification
    // counts below re-scan everything the backfill wrote, and their
    // bytes must not inflate the backfill's own evidence (review r19).
    listener.quiesce()
    val backfillStats = listener.snapshot
    spark.sparkContext.removeSparkListener(listener)

    val staging = spark.table("staging_events").count()
    val fact = spark.table("fact_events").count()
    val dimUser = spark.table("dim_user").count()
    val dimProduct = spark.table("dim_product").count()
    val martDays = spark.table("agg_daily_revenue_summary").count()
    println(
      s"""PROBE {"amp":$amp,"days":${ran.size},"staging":$staging,""" +
        s""""fact":$fact,"dim_user":$dimUser,"dim_product":$dimProduct,""" +
        s""""mart_days":$martDays,""" +
        f""""amplify_sec":$ampSec%.1f,"backfill_sec":$backfillSec%.1f,""" +
        s""""stats":$backfillStats}""")
    spark.stop()
  }
}
