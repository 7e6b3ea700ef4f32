package graft

import graft.queries.CorpusQueries
import graft.similarity.{Ivf, IvfPq, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the query registry and the trained-model oracle replay plumbing
  * (Capture slots + OracleModelSql): names are unique, literal oracles
  * are non-empty, the OracleModelSql renderers inline the exact model
  * doubles as literals, and a real query run fills its slot so oracleSql
  * gains the entry. The DuckDB side is exercised by Verify +
  * tools/oracle_check.py — here we pin the Scala-side contract the
  * replay depends on. */
class OracleModelSqlSpec extends SparkSpec {

  private val tinyIvf = Ivf.Model(Seq(Seq(1.0, 0.0), Seq(0.0, 0.5)))
  private val tinyPq = Pq.Model(Seq(
    Seq(Seq(0.25, -1.5), Seq(2.0, 3.0)), // subspace 0, ksub = 2, dsub = 2
    Seq(Seq(-0.125, 4.0), Seq(0.0, 1.0))))

  test("builders inline every model double as a round-trip literal") {
    val sql = OracleModelSql.ivfTopK(tinyIvf, k = 5, nprobe = 2)
    // shortest-round-trip printing: the exact component values appear
    sql should include("[1.0, 0.0]")
    sql should include("[0.0, 0.5]")
    // |c|² precomputed driver-side with the engine's summation order
    sql should include("1.0 - 2.0 * list_dot_product")
    sql should include("0.25 - 2.0 * list_dot_product")

    val pqSql = OracleModelSql.pqAdc(tinyPq, k = 5)
    pqSql should include("(0, 0, [0.25, -1.5])")
    pqSql should include("(1, 1, [0.0, 1.0])")
    // ADC totals must sum in subspace order, not SUM()-reassociated
    pqSql should include("list_sum(list(q.d ORDER BY q.s))")

    val ipqSql = OracleModelSql.ivfPqTopK(IvfPq.Model(tinyIvf, tinyPq), 5, 2)
    ipqSql should include("cells(cell, cv)")
    ipqSql should include("cb(s, c, cv2)")
  }

  test("an unwritten slot yields no oracle; a written one renders it") {
    val slot = new Capture[Ivf.Model]
    val oracle = Oracle.replay(slot)(OracleModelSql.ivfTopK(_, k = 5, nprobe = 2))
    // nothing captured yet → no oracle entry is fabricated
    oracle.sql shouldBe None
    slot.put(tinyIvf)
    oracle.sql shouldBe Some(OracleModelSql.ivfTopK(tinyIvf, k = 5, nprobe = 2))
    oracle.when(_.nlist > 2).sql shouldBe None
  }

  test("the registry rejects duplicate names and unknown selections") {
    val run: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val dup = intercept[IllegalArgumentException](Registry(
      QueryDef("a", run, "SELECT 1"), QueryDef("b", run, "SELECT 2"),
      QueryDef("a", run, "SELECT 3")))
    dup.getMessage should include("duplicate query names: a")
    val unknown = intercept[IllegalArgumentException](
      SparkEntry.registry.select(Set("q01_scan_project", "q00_no_such_query")))
    unknown.getMessage should include("unknown queries: q00_no_such_query")
    SparkEntry.registry.select(Set("q17_daily_counts")).map(_.name) shouldBe
      Seq("q17_daily_counts")
  }

  test("every registered query has one entry and every literal oracle is non-empty") {
    val defs = SparkEntry.registry.defs
    defs should have size 203
    SparkEntry.queries.keySet shouldBe defs.map(_.name).toSet
    val literals = defs.collect { case QueryDef(n, _, Oracle.Literal(sql)) => n -> sql }
    literals.size + defs.count(_.oracle.isInstanceOf[Oracle.Replay[_]]) shouldBe defs.size
    literals.filter(_._2.trim.isEmpty).map(_._1) shouldBe empty
  }

  // m12 inlines trained IVF centroids, m63 the power-iteration state (μ, v₇).
  private val capturedCases = Seq[(String, () => Option[String])](
    "m12_ann_ivf" -> (() => CorpusQueries.annIvfModel.get.map(_.centroids.head.head.toString)),
    "m63_pca_top_component" -> (() => CorpusQueries.pcaTopComponentState.get.map(_.v.head.toString)))

  for ((name, capturedLiteral) <- capturedCases)
    test(s"after $name runs, its captured entry yields its oracle") {
      val d = SparkEntry.registry.select(Set(name)).head
      d.run(spark, sf("sf0.001")).count() should be > 0L
      val sql = d.oracle.sql.getOrElse(fail(s"$name has no oracle after running"))
      sql should include("FROM embeddings")
      // the captured model appears as a round-trip literal
      sql should include(capturedLiteral().get)
      SparkEntry.oracleSql(name) shouldBe sql
    }
}
