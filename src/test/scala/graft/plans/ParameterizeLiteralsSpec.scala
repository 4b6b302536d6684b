package graft.plans

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Filter/project literals become references of the generated classes
  * ([[ParameterizeLiterals]]): statements that differ only in a value
  * compile nothing new, while results, pushdown, pruning and EXPLAIN
  * stay exactly as with inlined literals. */
class ParameterizeLiteralsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One column per rewritten type. Every 17th row is null in every
    * column, rows 1–6 hold the type's edge values. */
  private lazy val table: String = {
    val dir = Files.createTempDirectory("param_lit").toString + "/t"
    def col(name: String, default: String, edges: String*): String =
      (Seq("CASE WHEN id % 17 = 0 THEN NULL") ++
        edges.zipWithIndex.map { case (e, i) => s"WHEN id = ${i + 1} THEN $e" } ++
        Seq(s"ELSE $default END AS $name")).mkString(" ")
    spark.range(0, 3000).selectExpr("id AS k",
      col("b", "CAST(id % 200 - 100 AS TINYINT)", "CAST(-128 AS TINYINT)", "CAST(127 AS TINYINT)"),
      col("s", "CAST(id * 13 % 60000 - 30000 AS SMALLINT)",
        "CAST(-32768 AS SMALLINT)", "CAST(32767 AS SMALLINT)"),
      col("i", "CAST(id * 7919 % 2000000 - 1000000 AS INT)",
        s"${Int.MinValue}", s"${Int.MaxValue}"),
      col("l", "id * 1000003 - 900000000", s"${Long.MinValue}L", s"${Long.MaxValue}L"),
      col("f", "CAST(id / 7.0 - 100 AS FLOAT)", "CAST('NaN' AS FLOAT)",
        "CAST('Infinity' AS FLOAT)", "CAST('-Infinity' AS FLOAT)", "CAST('-0.0' AS FLOAT)",
        "CAST(0.0 AS FLOAT)", "CAST(3.4028235E38 AS FLOAT)"),
      col("d", "id / 7.0D - 100", "CAST('NaN' AS DOUBLE)", "CAST('Infinity' AS DOUBLE)",
        "CAST('-Infinity' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)", "0.0D", "4.9E-324D"),
      col("dt", "date_add(DATE'1965-06-01', CAST(id * 3 AS INT))",
        "DATE'0001-01-01'", "DATE'9999-12-31'"),
      col("ts", "timestamp_micros(id * 1000003 - 1000000000)",
        "TIMESTAMP'0001-01-01 00:00:00'", "TIMESTAMP'9999-12-31 23:59:59.999999'"),
      col("tn", "CAST(timestamp_micros(id * 1000003 - 1000000000) AS TIMESTAMP_NTZ)",
        "TIMESTAMP_NTZ'0001-01-01 00:00:00'", "TIMESTAMP_NTZ'9999-12-31 23:59:59.999999'"))
      .repartition(3).write.parquet(dir)
    dir
  }

  private def sql(s: SparkSession, text: String): DataFrame =
    s.sql(text.replace("{t}", s"parquet.`$table`"))

  /** Statement values per column: ordinary values for the compile counts. */
  private val ordinary: Seq[(String, Seq[String])] = Seq(
    "b" -> Seq("-7Y", "3Y", "11Y", "42Y", "-90Y", "77Y"),
    "s" -> Seq("-700S", "300S", "1100S", "4200S", "-9000S", "7700S"),
    "i" -> Seq("-7000", "3000", "11000", "42000", "-90000", "77000"),
    "l" -> Seq("-7000L", "3000000L", "11000000L", "420000000L", "-9000000L", "770000000L"),
    "f" -> Seq("-7.5F", "3.25F", "11.0F", "42.125F", "-90.5F", "77.75F"),
    "d" -> Seq("-7.5D", "3.25D", "11.0D", "42.125D", "-90.5D", "77.75D"),
    "dt" -> Seq("DATE'1965-07-01'", "DATE'1968-02-29'", "DATE'1970-01-01'",
      "DATE'1972-12-31'", "DATE'1966-03-15'", "DATE'1969-12-31'"),
    "ts" -> Seq("TIMESTAMP'1969-12-31 23:50:00.000001'", "TIMESTAMP'1970-01-01 00:00:00'",
      "TIMESTAMP'1970-01-01 00:10:00.5'", "TIMESTAMP'1969-12-31 23:45:00.123456'",
      "TIMESTAMP'1970-01-01 00:20:00.999999'", "TIMESTAMP'1970-01-01 00:30:00'"),
    "tn" -> Seq("TIMESTAMP_NTZ'1969-12-31 23:50:00.000001'", "TIMESTAMP_NTZ'1970-01-01 00:00:00'",
      "TIMESTAMP_NTZ'1970-01-01 00:10:00.5'", "TIMESTAMP_NTZ'1969-12-31 23:45:00.123456'",
      "TIMESTAMP_NTZ'1970-01-01 00:20:00.999999'", "TIMESTAMP_NTZ'1970-01-01 00:30:00'"))

  /** Edge values on top of the ordinary ones, for the result checks. */
  private val edges: Map[String, Seq[String]] = Map(
    "b" -> Seq("CAST(-128 AS TINYINT)", "CAST(127 AS TINYINT)"),
    "s" -> Seq("CAST(-32768 AS SMALLINT)", "CAST(32767 AS SMALLINT)"),
    "i" -> Seq(s"${Int.MinValue}", s"${Int.MaxValue}"),
    "l" -> Seq(s"${Long.MinValue}L", s"${Long.MaxValue}L"),
    "f" -> Seq("CAST('NaN' AS FLOAT)", "CAST('Infinity' AS FLOAT)", "CAST('-Infinity' AS FLOAT)",
      "CAST('-0.0' AS FLOAT)", "CAST(0.0 AS FLOAT)", "CAST(3.4028235E38 AS FLOAT)"),
    "d" -> Seq("CAST('NaN' AS DOUBLE)", "CAST('Infinity' AS DOUBLE)", "CAST('-Infinity' AS DOUBLE)",
      "CAST('-0.0' AS DOUBLE)", "0.0D", "4.9E-324D", "1.7976931348623157E308D"),
    "dt" -> Seq("DATE'0001-01-01'", "DATE'9999-12-31'", "DATE'1900-02-28'"),
    "ts" -> Seq("TIMESTAMP'0001-01-01 00:00:00'", "TIMESTAMP'9999-12-31 23:59:59.999999'",
      "TIMESTAMP'1969-12-31 23:59:59.999999'"),
    "tn" -> Seq("TIMESTAMP_NTZ'0001-01-01 00:00:00'", "TIMESTAMP_NTZ'9999-12-31 23:59:59.999999'",
      "TIMESTAMP_NTZ'1969-12-31 23:59:59.999999'"))

  private val integral = Set("b", "s", "i", "l")
  private val floating = Set("f", "d")

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Every node of the final plan, through AQE stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def params(df: DataFrame): Seq[Expression] =
    nodes(df.queryExecution.executedPlan).flatMap(_.expressions.flatMap(_.collect {
      case p: ParamLiteral => p
    }))

  private def undo(p: SparkPlan): SparkPlan =
    p.transformAllExpressions { case pl: ParamLiteral => pl.literal }

  test("statements differing only in a literal compile once: filter-only scan and AQE aggregate") {
    val shapes = Seq(
      "SELECT k, {c} FROM {t} WHERE {c} > {v}",
      "SELECT k % 7 AS g, count(*) AS n, max({c}) AS m FROM {t} WHERE {c} <> {v} GROUP BY k % 7")
    for ((c, values) <- ordinary; shape <- shapes) {
      def run(v: String): DataFrame = {
        val df = sql(spark, shape.replace("{c}", c).replace("{v}", v))
        df.collect()
        df
      }
      val first = run(values.head)
      assert(params(first).nonEmpty, s"no literal rewritten in ${shape.replace("{c}", c)}")
      if (shape.contains("GROUP BY"))
        assert(nodes(first.queryExecution.executedPlan).exists(_.isInstanceOf[QueryStageExec]),
          "the aggregate must run as a multi-stage AQE plan")
      for (v <- values.tail) {
        val n = compiles(run(v))
        assert(n == 0, s"$c = $v compiled $n classes for ${shape.replace("{c}", c)}")
      }
    }
  }

  test("results match the same plan with literals inlined, for edge values and nulls") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    for ((c, ord) <- ordinary; v <- ord.take(2) ++ edges(c)) {
      val stmts = Seq(
        s"SELECT k, $c FROM {t} WHERE $c < $v",
        s"SELECT k FROM {t} WHERE $c = $v OR $c >= $v",
        s"SELECT k, $c IN ($v, ${ord(2)}, NULL) AS hit FROM {t}",
        s"SELECT k, $c <=> $v AS same FROM {t}") ++
        // floating point cannot overflow; integers stay clear of it
        (if (floating(c)) Seq(s"SELECT k, $c * $v AS m, $c + $v AS p, $c - $v AS q FROM {t}")
        else if (integral(c) && ord.contains(v))
          Seq(s"SELECT k, $c + $v AS p, $c - $v AS q FROM {t} WHERE k > 20 AND abs($c) < 5")
        else Nil)
      for (q <- stmts) {
        val df = sql(s, q)
        val plan = df.queryExecution.executedPlan
        assert(params(df).nonEmpty, s"no literal rewritten in $q")
        val without = undo(plan)
        assert(!without.exists(_.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral]))))
        // UnsafeRow.toString renders the row's bytes: NaN, -0.0 and
        // microseconds compare exactly
        def rows(p: SparkPlan) = p.executeCollect().map(_.toString).sorted.toSeq
        assert(rows(plan) == rows(without), s"results differ for $q")
        assert(plan.toString == without.toString, s"EXPLAIN differs for $q")
      }
    }
  }

  test("scans keep their literals: parquet PushedFilters and lake manifest pruning") {
    val df = sql(spark, "SELECT k FROM {t} WHERE i = 424242")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(i,424242)"), plan)
    assert(params(df).nonEmpty)

    val dir = Files.createTempDirectory("param_lit_lake").toString
    graft.sources.SnapshotTable.create(spark, dir, spark.range(0, 800).toDF("id").repartition(4))
    graft.sources.SnapshotTable.forPath(spark, dir).compactSorted(Seq("id"), numFiles = 8)
    def filesRead(id: Long): Long = {
      val lake = spark.sql(s"SELECT id FROM lake_scan('$dir') WHERE id = $id")
      assert(lake.collect().map(_.getLong(0)).toSeq == Seq(id))
      assert(params(lake).nonEmpty)
      nodes(lake.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.sum
    }
    assert(filesRead(7) == 1 && filesRead(555) == 1, "the manifest must prune to one of 8 files")
  }
}
