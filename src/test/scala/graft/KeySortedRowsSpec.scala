package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.operators.{InteractiveQueries, StockAggregation}
import graft.state.{KeySortedRows, MaterializedState}
import graft.util.Fs

/** The binary-search path of the interactive queries against the Catalyst
  * `Filter` path over the same rows.
  *
  * Each snapshot is written unsorted as parquet and served from the driver
  * by `MaterializedState.serve`, which sorts its rows by `symbol`. Every key,
  * multi-key, range and filtered-range query is then answered twice: on the
  * served frame, where it binary-searches the sorted rows, and on a
  * projection of that frame, which no query recognises, so it gets the
  * `Filter`s. The two answers must hold the same rows in the same order.
  */
class KeySortedRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withTempDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft-keysorted-")
    try body(dir.toString) finally Fs.deleteRecursively(dir)
  }

  /** `df` written as parquet in its own order and served from the driver. */
  private def served(df: DataFrame, dir: String): DataFrame = {
    val path = s"$dir/snap"
    df.write.parquet(path)
    MaterializedState.serve(spark, path)
  }

  /** A snapshot holding one aggregate-shaped row per symbol, in the order
    * given (a null symbol included).
    */
  private def snapshot(symbols: Seq[String], dir: String): DataFrame =
    served(symbols.zipWithIndex.map { case (s, i) =>
      (Option(s), i * 10.0, (i % 3) * 15.0, i.toLong)
    }.toDF("symbol", "buys", "sells", "number_shares"), dir)

  /** `agg` behind a projection, which no query recognises as key-sorted. */
  private def projected(agg: DataFrame): DataFrame = agg.select(agg.columns.toSeq.map(agg(_)): _*)

  /** Whether the analyzed plan filters on `symbol`: the `Filter` path does,
    * the binary-search path does not.
    */
  private def keyFilter(df: DataFrame): Boolean = df.queryExecution.analyzed.exists {
    case f: Filter => f.condition.references.exists(_.name == "symbol")
    case _ => false
  }

  /** The queries on `agg`, named, with the key and bound probes each query
    * kind gets.
    */
  private def queries(keys: Seq[String], probes: Seq[String]): Seq[(String, DataFrame => DataFrame)] = {
    val bounds = (None +: (keys ++ probes).map(Some(_))).distinct
    val keyCases = (keys ++ probes).distinct.map(k =>
      (s"key $k", (df: DataFrame) => InteractiveQueries.keyQuery(df, k)))
    val keySets = Seq(Nil, keys.take(3), keys.take(2) ++ keys.take(2), probes, keys ++ probes,
      Seq(null), keys.take(1) :+ null).map(ks =>
      (s"keys ${ks.mkString("[", ",", "]")}", (df: DataFrame) => InteractiveQueries.multiKeyQuery(df, ks)))
    val ranges = for (lo <- bounds; hi <- bounds) yield
      (s"range [$lo, $hi]", (df: DataFrame) => InteractiveQueries.rangeQuery(df, lo, hi))
    val filtered = for (lo <- bounds.take(4); hi <- bounds.takeRight(4)) yield
      (s"filtered range [$lo, $hi]",
        (df: DataFrame) => InteractiveQueries.filteredRangeQuery(df, lo, hi, "@.buys > @.sells"))
    keyCases ++ keySets ++ ranges ++ filtered
  }

  /** Every query answers on `agg` by binary search exactly as the `Filter`
    * path answers on the same rows.
    */
  private def assertDifferential(agg: DataFrame, keys: Seq[String], probes: Seq[String]): Unit = {
    val plain = projected(agg)
    queries(keys, probes).foreach { case (name, query) =>
      val (indexed, filtered) = (query(agg), query(plain))
      val unbounded = name == "range [None, None]" || name == "filtered range [None, None]"
      if (!unbounded) {
        assert(!keyFilter(indexed), s"$name did not search:\n${indexed.queryExecution.analyzed}")
        assert(keyFilter(filtered), s"$name on the projection has no key Filter")
      }
      assert(indexed.collect().toSeq == filtered.collect().toSeq, name)
    }
  }

  /** Keys whose UTF-16 order (Java `String.compareTo`) differs from their
    * UTF8 byte order: U+FF21 sorts after U+1F600 in UTF-16 (0xFF21 >
    * 0xD83D) but before it in UTF-8 (0xEF < 0xF0).
    */
  private val (fullwidthA, grinning) = ("Ａ", new String(Character.toChars(0x1F600)))

  private val symbols = Seq("U000010", null, "U00002", "é", grinning, "U00001", "", "a",
    fullwidthA, "U0000100", "B", "U000011")

  test("key, multi-key, range and filtered range answer by binary search as the Filter does") {
    withTempDir { dir =>
      val agg = snapshot(symbols, dir)
      assert(fullwidthA.compareTo(grinning) > 0)
      assertDifferential(agg, symbols.filter(_ != null),
        Seq("U", "U0000", "U000001", "U0000101", "A", "\u0000", "\uFFFF", "zz", "é\u0000"))
    }
  }

  test("a null symbol matches no key or bounded range, and a range with no bound returns it") {
    withTempDir { dir =>
      val agg = snapshot(symbols, dir)
      def nulls(df: DataFrame) = df.collect().count(_.isNullAt(0))
      assert(nulls(InteractiveQueries.rangeQuery(agg, None, None)) == 1)
      assert(nulls(InteractiveQueries.rangeQuery(agg, Some(""), None)) == 0)
      // the supplementary-plane key is the greatest in UTF-8 order
      assert(nulls(InteractiveQueries.rangeQuery(agg, None, Some(grinning))) == 0)
      assert(InteractiveQueries.rangeQuery(agg, None, Some(grinning)).count() == symbols.size - 1)
      assert(InteractiveQueries.keyQuery(agg, null).count() == 0)
      assert(InteractiveQueries.multiKeyQuery(agg, Seq(null)).count() == 0)
      assert(InteractiveQueries.rangeQuery(agg, Some(null), None).count() == 0)
    }
  }

  test("a range between keys whose UTF-16 and UTF-8 orders differ follows UTF-8") {
    withTempDir { dir =>
      val agg = snapshot(symbols, dir)
      val rows = InteractiveQueries.rangeQuery(agg, Some(fullwidthA), Some(grinning)).collect()
      assert(rows.map(_.getString(0)).toSeq == Seq(fullwidthA, grinning))
      assert(InteractiveQueries.rangeQuery(agg, Some(grinning), Some(fullwidthA)).count() == 0)
    }
  }

  test("an empty and a one-row snapshot answer as the Filter does") {
    withTempDir { dir =>
      val empty = snapshot(Nil, s"$dir/empty")
      assert(empty.count() == 0)
      assertDifferential(empty, Nil, Seq("U000001", "", null))
      val one = snapshot(Seq("U000007"), s"$dir/one")
      assertDifferential(one, Seq("U000007"), Seq("U000006", "U000008", "U00000", "U0000070"))
    }
  }

  test("an aggregate of 1,500 symbols written unsorted answers as the Filter does") {
    withTempDir { dir =>
      // symbols drawn out of order, aggregated by a hash aggregate: the
      // written files follow no key order
      val txns = spark.range(6000).select(
        concat(lit("U"), lpad((col("id") * 7919 % 1500).cast("string"), 6, "0")).as("symbol"),
        (col("id") % 2 === 0).as("buy"),
        (col("id") % 97).cast("double").as("amount"),
        (col("id") % 1000 + 1).cast("int").as("number_shares"))
      val raw = StockAggregation.aggregate(txns.repartition(4))
      val agg = served(raw, dir)
      val keys = raw.select("symbol").as[String].collect().sorted
      assert(keys.length == 1500)
      assert(spark.read.parquet(s"$dir/snap").collect().map(_.getString(0)).toSeq != keys.toSeq,
        "the snapshot was written in key order")
      assertDifferential(agg, Seq(keys.head, keys(keys.length / 2), keys.last, keys(3)),
        Seq("A000000", "U", "Z", keys(keys.length / 3) + "0"))
    }
  }

  test("a searched answer keeps agg's attribute ids, so agg's columns resolve on it") {
    withTempDir { dir =>
      val agg = snapshot(symbols, dir)
      val ids = agg.queryExecution.analyzed.output.map(_.exprId)
      Seq(InteractiveQueries.keyQuery(agg, "a"),
        InteractiveQueries.multiKeyQuery(agg, Seq("a", "B")),
        InteractiveQueries.rangeQuery(agg, Some("B"), None)).foreach { df =>
        assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation], df.queryExecution.analyzed.toString)
        assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Filter]),
          df.queryExecution.optimizedPlan.toString)
        assert(df.queryExecution.analyzed.output.map(_.exprId) == ids)
        assert(df.select(agg("buys")).collect().nonEmpty)
      }
      // the served frame's own plan is a relation over the sorted rows
      agg.queryExecution.analyzed match {
        case LocalRelation(_, rows: KeySortedRows, _, _) => assert(rows.length == symbols.size)
        case other => fail(s"not a key-sorted relation:\n$other")
      }
    }
  }

  test("a UTF8_LCASE symbol is served unsorted and answers through the Filter") {
    withTempDir { dir =>
      val base = symbols.filter(_ != null).zipWithIndex.map { case (s, i) => (s, i * 10.0, 0.0, i.toLong) }
        .toDF("symbol", "buys", "sells", "number_shares")
      val agg = served(base.withColumn("symbol", collate(col("symbol"), "UTF8_LCASE")), dir)
      assert(agg.schema("symbol").dataType != StringType,
        s"collation lost in the round trip: ${agg.schema}")
      agg.queryExecution.analyzed match {
        case LocalRelation(_, rows, _, _) => assert(!rows.isInstanceOf[KeySortedRows])
        case other => fail(s"not served from the driver:\n$other")
      }
      val key = InteractiveQueries.keyQuery(agg, "u000010")
      assert(keyFilter(key))
      assert(key.collect().map(_.getString(0)).toSeq == Seq("U000010"))
      val plain = projected(agg)
      Seq[DataFrame => DataFrame](
        InteractiveQueries.keyQuery(_, "b"),
        InteractiveQueries.multiKeyQuery(_, Seq("A", "u00001")),
        InteractiveQueries.rangeQuery(_, Some("b"), Some("u00002"))).foreach { q =>
        assert(q(agg).collect().toSet == q(plain).collect().toSet)
      }
    }
  }

  test("multi-key large with a repeated key returns each row once") {
    withTempDir { dir =>
      val agg = snapshot(symbols, dir)
      val keys = Seq("a", "a", "B", "nope", "B").toDF("symbol")
      val rows = InteractiveQueries.multiKeyQueryLarge(agg, keys).collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("B", "a"))
      assert(rows.toSet == InteractiveQueries.multiKeyQuery(agg, Seq("a", "B")).collect().toSet)
    }
  }

  test("the sort leaves a relation whose key column is not a string unsorted") {
    val relation = LocalRelation.fromExternalRows(
      Seq(2L, 1L).toDF("symbol").queryExecution.analyzed.output, Seq(Row(2L), Row(1L)))
    assert(KeySortedRows.sort(relation, "symbol") eq relation)
    assert(KeySortedRows.sort(relation, "absent") eq relation)
  }
}
