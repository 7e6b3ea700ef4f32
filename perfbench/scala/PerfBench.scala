package perfbench

import graft.GraftSession
import graft.Snapshot.SnapshotOps
import graft.dedup.{DedupClusters, ExactDedup, NgramJaccard}
import graft.pipeline.{CorpusPipeline, RetailPipeline}
import graft.streaming.StreamingIngest
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import org.json4s._
import scala.collection.mutable.ArrayBuffer

/** One benchmark run inside one JVM: build the session, warm up, run the
  * workload's timed ops (a fixed plan sized for `--seconds`), then write
  * every raw measurement (and, with `--trace 1`, every span and Spark
  * counter) to `--out` as JSON. `run.py` turns that record into metrics
  * and checks the outputs this run left under `--work`.
  *
  * Usage: perfbench.PerfBench --workload W --seed N --seconds S --trace 0|1
  *          --input DIR --work DIR --cpus C --out FILE
  */
object PerfBench {

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, input: Path, work: Path, cpus: Int,
                        out: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("input")), Paths.get(kv("work")),
      kv("cpus").toInt, Paths.get(kv("out")))
    val rec = new Recorder(conf.trace, conf.out.resolveSibling("ops.jsonl"))
    val buildStart = rec.now
    val spark = GraftSession.builder(s"local[${conf.cpus}]")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", conf.work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.sessionBuilt(spark, buildStart)
    val workload: Workload = conf.workload match {
      case "retail_daily"      => new RetailDaily(spark, conf, rec)
      case "warehouse_queries" => new WarehouseQueries(spark, conf, rec)
      case "corpus_prep"       => new CorpusPrep(spark, conf, rec)
      case other => sys.error(s"unknown workload: $other")
    }
    rec.phase("setup")(workload.warmUp())
    rec.phase("timed")(workload.timed())
    val extra = workload.finish()
    Files.writeString(conf.out, rec.toJson(conf, extra))
    spark.stop()
  }
}

/** A workload: untimed warm-up (counted in set-up), the timed ops, then an
  * untimed finish that leaves the outputs `run.py` checks and returns
  * extra JSON fields for the record.
  *
  * The timed op plan is a function of the budget alone, not of how fast
  * the ops go, so every run of one setting does the same work in the same
  * order: a run that squeezed in more, later (JIT-warmer) ops would report
  * a lower median. */
trait Workload {
  def warmUp(): Unit
  def timed(): Unit
  def finish(): Seq[(String, JValue)]
}

/** Retail daily ELT: each new day arrives (its `event.csv` moves into the
  * raw tree), then `RetailPipeline.runDay`; then idempotent re-runs of
  * already-loaded days; then one AvailableNow streaming catch-up over the
  * whole raw tree. `days.tsv` lists the generated days in arrival order,
  * each marked `warmup` or `new` by `run.py`, which sizes the plan; each
  * timed new day is matched by one re-run. */
final class RetailDaily(spark: SparkSession, conf: PerfBench.Conf,
                        rec: Recorder) extends Workload {
  private val raw = conf.work.resolve("raw")
  private val mart = conf.work.resolve("mart")
  private val pipeline = new RetailPipeline(spark, raw.toString, mart.toString)
  /** (date, rows) of the warm-up days and of the timed new days. */
  private val (warmupDays, newDays): (Vector[(String, Long)], Vector[(String, Long)]) = {
    val rows = Files.readAllLines(conf.input.resolve("days.tsv")).toArray(Array.empty[String])
      .toVector.filter(_.nonEmpty).map(_.split('\t'))
    val (w, n) = rows.partition(_(2) == "warmup")
    (w.map(r => (r(0), r(1).toLong)), n.map(r => (r(0), r(1).toLong)))
  }
  private val loaded = ArrayBuffer.empty[(String, Long)]
  private var lastRun = ""

  private def arrive(day: (String, Long)): Unit = {
    val dir = raw.resolve("Day_Wise").resolve(day._1)
    Files.createDirectories(dir)
    Files.move(conf.input.resolve("pending").resolve(day._1).resolve("event.csv"),
      dir.resolve("event.csv"))
    loaded += day
  }

  /** `runDay`, or its three public stages under spans when tracing — the
    * same calls in the same order. */
  private def runDay(date: String): Unit = {
    if (rec.tracing) {
      rec.span("retail.ingest")(pipeline.ingestDay(date))
      rec.span("retail.star")(pipeline.buildStarSchema(date))
      rec.span("retail.mart")(pipeline.buildMart(date))
    } else pipeline.runDay(date)
    lastRun = date
  }

  private def catchUp(name: String): Unit = {
    val q = StreamingIngest.runAvailableNow(
      StreamingIngest.dailyCounts(spark, raw.toString),
      conf.work.resolve(s"$name-out").toString,
      conf.work.resolve(s"$name-checkpoint").toString)
    rec.streamProgress(q.recentProgress.toSeq)
  }

  /** The warm-up days (the first creates the tables, the next append a
    * partition) and a catch-up. */
  def warmUp(): Unit = {
    for (day <- warmupDays) {
      arrive(day)
      rec.op("warmup", day._1, day._2)(runDay(day._1))
    }
    rec.op("warmup", "catchup", loaded.map(_._2).sum)(catchUp("warmup-stream"))
  }

  /** The new days, as many seeded re-runs of loaded days, then the
    * catch-up. */
  def timed(): Unit = {
    val rng = new scala.util.Random(conf.seed)
    for (day <- newDays) {
      arrive(day)
      rec.op("day", day._1, day._2)(runDay(day._1))
    }
    for (_ <- newDays.indices) {
      val day = loaded(rng.nextInt(loaded.size))
      rec.op("rerun", day._1, day._2)(runDay(day._1))
    }
    rec.op("catchup", "all", loaded.map(_._2).sum)(catchUp("stream"))
  }

  def finish(): Seq[(String, JValue)] = Seq(
    "loaded_days" -> JArray(loaded.map(d => JString(d._1)).toList),
    "last_run_day" -> JString(lastRun),
    "warehouse" -> JString(conf.work.resolve("warehouse").toString),
    "mart" -> JString(mart.toString),
    "stream_out" -> JString(conf.work.resolve("stream-out").toString))
}

/** Closed loop, one client: every sixteenth of the registry's `q*` rows
  * in name order (3 of 47 — a whole 47-row round is ~47 s cold and ~17 s
  * warm at local[4], more than a run can hold) over the warehouse tables.
  * Seven untimed rounds in name order (a query's latency keeps falling
  * until about its seventh run: ~0.4 s in its second run, ~0.3 s in its
  * fourth, ~0.22 s from its seventh), then whole seeded-shuffled rounds
  * for the budget, so every run measures each query equally often. With an
  * odd number of queries and of rounds the median latency falls inside
  * the middle query's own samples, not on the edge between two queries.
  * Every execution carries an order-independent fingerprint (row count,
  * summed row hashes and summed doubles), so a later run of a query that
  * returns different rows fails. The first round also writes each result
  * to parquet for the DuckDB oracle check. */
final class WarehouseQueries(spark: SparkSession, conf: PerfBench.Conf,
                             rec: Recorder) extends Workload {
  private val dir = conf.input.resolve("tables").toString
  private val queries = graft.SparkEntry.queries.toSeq
    .filter(_._1.startsWith("q")).sortBy(_._1)
    .zipWithIndex.collect { case (q, i) if i % 16 == 0 => q }
  private val firstPrint = scala.collection.mutable.Map.empty[String, Seq[Any]]
  private val outDir = conf.work.resolve("query-out")

  private def fingerprint(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    import org.apache.spark.sql.types._
    val obs = org.apache.spark.sql.Observation()
    def hashable(t: DataType): Boolean = t match {
      case _: MapType | FloatType | DoubleType => false
      case a: ArrayType => hashable(a.elementType)
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val exact = df.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    val floating = df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType =>
        coalesce(col(f.name).cast("double"), lit(0.0))
    }
    val h = if (exact.isEmpty) lit(0L) else pmod(xxhash64(exact.toIndexedSeq: _*), lit(2147483647L))
    val fsum = if (floating.isEmpty) lit(0.0) else floating.reduce(_ + _)
    (df.observe(obs, count(lit(1)).as("rows"), sum(h).as("hash"),
      sum(fsum).as("fsum")), obs)
  }

  private def runQuery(name: String, fn: (SparkSession, String) => DataFrame,
                       sink: DataFrame => Unit): Unit = {
    val df = rec.span("query.build")(fn(spark, dir))
    val (observed, obs) = fingerprint(df)
    rec.span("query.exec")(sink(observed))
    val m = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s")).getValuesMap[Any](Seq("rows", "hash", "fsum"))
    val print = Seq(m("rows"), m("hash"), Option(m("fsum")).getOrElse(0.0))
    firstPrint.get(name) match {
      case None => firstPrint(name) = print
      case Some(p) =>
        val Seq(r0, h0, f0: Double) = p
        val Seq(r1, h1, f1: Double) = print
        require(r0 == r1 && h0 == h1 &&
          math.abs(f0 - f1) <= 1e-6 * math.max(1.0, math.abs(f0)),
          s"$name fingerprint $print differs from the first round's $p")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def warmUp(): Unit = {
    for ((name, fn) <- queries) rec.op("warmup", name, 1)(runQuery(name, fn,
      _.write.mode("overwrite").parquet(outDir.resolve(name).toString)))
    for (_ <- 1 to 6; (name, fn) <- queries) rec.op("warmup", name, 1)(runQuery(name, fn, noop))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rounds for the budget at the nominal 1.1 s a warm round takes on
    * four cores. */
  def timed(): Unit = {
    val rng = new scala.util.Random(conf.seed)
    for (_ <- 0 until math.max(3, math.round(conf.seconds / 1.1).toInt);
         (name, fn) <- rng.shuffle(queries))
      rec.op("query", name, 1)(runQuery(name, fn, noop))
  }

  def finish(): Seq[(String, JValue)] = {
    val oracle = graft.SparkEntry.oracleSql
    Seq(
      "query_out" -> JString(outDir.toString),
      "oracle_sql" -> JObject(queries.map { case (n, _) => n -> JString(oracle(n)) }.toList))
  }
}

/** Corpus preparation: `CorpusPipeline.prepare` and `prepareV2` (the
  * latter over the PII-suffixed corpus, as m28 runs it) on the generated
  * documents, chunk output written to parquet. Traced runs call each
  * public stage operator separately on the pinned output of the stage
  * before it, so every stage gets its own span and row count. */
final class CorpusPrep(spark: SparkSession, conf: PerfBench.Conf,
                       rec: Recorder) extends Workload {
  private val docs = spark.read.parquet(conf.input.resolve("documents.parquet").toString)
  private lazy val nDocs = docs.count()
  /** The posting-exchange width the registry's m18/m28 rows pass at this
    * corpus size (`Tables.spreadParts`: one part per 64 documents, at most
    * one per core, only below 262,144 documents). */
  private lazy val postingParts: Option[Int] = {
    val parts = math.min(conf.cpus.toLong, nDocs / 64)
    if (nDocs > 262144L || parts < 2) None else Some(parts.toInt)
  }
  private val outDir = conf.work.resolve("corpus-out")
  private val stageRows = ArrayBuffer.empty[(String, Long)]

  private def input(v2: Boolean): DataFrame =
    if (v2) graft.queries.CorpusQueries.withSyntheticPii(docs) else docs

  /** The gate of `prepare`/`prepareV2`, spelled from the same public
    * operators (profile gate; v2 adds PII redaction and repetition
    * collapse). */
  private def gate(in: DataFrame, v2: Boolean): DataFrame = {
    val gated = in
      .select(col("doc_id"), col("text"), TextOps.profile(col("text")).as("p"))
      .filter(col("p.lang_pred") === "en" && col("p.quality") >= 0.3)
    if (!v2) gated.select("doc_id", "text")
    else gated
      .select(col("doc_id"), graft.text.PiiRedact.redactedText(col("text")).as("text"))
      .select(col("doc_id"), split(lower(trim(col("text"))), " +").as("t"))
      .select(col("doc_id"), graft.text.Repetition.collapseTokens(col("t")).as("text"))
  }

  private def staged(v2: Boolean, out: String): Unit = {
    def pinned(name: String)(df: => DataFrame): DataFrame = {
      val p = rec.span(name)(df.pinned(true))
      stageRows += name -> rec.span("corpus.row_count")(p.count())
      p
    }
    val gated = pinned("corpus.gate")(gate(input(v2), v2))
    val exact = pinned("corpus.exact_dedup")(ExactDedup.dedup(gated))
    val pairs = pinned("corpus.pairs")(NgramJaccard
      .invertedIndexPairs(exact, threshold = 0.6, dfCap = 50, postingParts = postingParts)
      .select("doc_a", "doc_b"))
    val comps = pinned("corpus.components")(DedupClusters.components(pairs))
    rec.span("corpus.chunk_write") {
      val nonCanonical = comps.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      TextOps.chunk(exact.join(nonCanonical, Seq("doc_id"), "left_anti"), size = 50, stride = 40)
        .write.mode("overwrite").parquet(out)
    }
    stageRows += "corpus.chunk" -> rec.span("corpus.row_count")(spark.read.parquet(out).count())
  }

  private var runs = 0
  private def run(kind: String, v2: Boolean): Unit = {
    val out = outDir.resolve(s"${if (v2) "m28" else "m18"}-$runs").toString
    runs += 1
    rec.op(kind, if (v2) "prepareV2" else "prepare", nDocs) {
      if (rec.tracing) staged(v2, out)
      else {
        val chunks = if (v2) CorpusPipeline.prepareV2(input(true), postingParts = postingParts)
                     else CorpusPipeline.prepare(input(false), postingParts = postingParts)
        chunks.write.mode("overwrite").parquet(out)
      }
      rec.pinnedBytes(spark)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def warmUp(): Unit = {
    nDocs
    run("warmup", v2 = false)
    run("warmup", v2 = true)
  }

  /** `prepare`/`prepareV2` pairs for the budget at the nominal 4 s a run
    * takes on four cores. */
  def timed(): Unit =
    for (_ <- 0 until math.max(1, math.round(conf.seconds / 8.0).toInt); v2 <- Seq(false, true))
      run("pipeline", v2)

  def finish(): Seq[(String, JValue)] = {
    val oracle = graft.SparkEntry.oracleSql
    Seq(
      "corpus_out" -> JString(outDir.toString),
      "stage_rows" -> JArray(stageRows.toList.map { case (k, v) =>
        JObject("stage" -> JString(k), "rows" -> JLong(v))
      }),
      "oracle_sql" -> JObject(List(
        "m18" -> JString(oracle("m18_corpus_pipeline")),
        "m28" -> JString(oracle("m28_corpus_pipeline_v2")))))
  }
}
