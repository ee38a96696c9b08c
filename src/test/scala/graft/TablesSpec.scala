package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.state.ParquetRelations
import graft.util.Fs

/** `Tables.load` serves each table from the per-session relation memo; these
  * pin that the memo never serves a stale relation and that every call gets
  * its own attribute ids.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withTempDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-tables-")
    try body(dir.toString) finally Fs.deleteRecursively(dir)
  }

  test("a table rewritten under the same path returns its new rows") {
    withTempDir { dir =>
      spark.range(0, 3).toDF("x").write.parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir, "t").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
      spark.range(10, 15).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir, "t").collect().map(_.getLong(0)).sorted.toSeq ==
        (10L until 15L))
      // a new schema under the same path is re-inferred too
      spark.range(0, 2).select(col("id").cast("string").as("y"))
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val again = Tables.load(spark, dir, "t")
      assert(again.columns.toSeq == Seq("y"))
      assert(again.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1"))
    }
  }

  test("a schema-inference setting is part of the memo key") {
    withTempDir { dir =>
      val s = spark.newSession()
      s.range(0, 2).toDF("a").write.parquet(s"$dir/m.parquet")
      s.range(0, 2).toDF("b").write.mode("append").parquet(s"$dir/m.parquet")
      assert(Tables.load(s, dir, "m").columns.length == 1)
      // same files, merged schema: only the setting changed
      s.conf.set("spark.sql.parquet.mergeSchema", "true")
      assert(Tables.load(s, dir, "m").columns.toSet == Set("a", "b"))
    }
  }

  test("each load is a fresh relation: a self-join on column references stays unambiguous") {
    withTempDir { dir =>
      spark.range(0, 5).toDF("k").write.parquet(s"$dir/t.parquet")
      val a = Tables.load(spark, dir, "t")
      val b = Tables.load(spark, dir, "t")
      assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
        .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
      assert(a.join(b, a("k") === b("k")).count() == 5)
    }
  }

  test("the java.nio and Hadoop fingerprint listings agree on a local table") {
    withTempDir { dir =>
      spark.range(0, 100).repartition(3).write.parquet(s"$dir/t.parquet")
      val local = ParquetRelations.localFiles(Paths.get(s"$dir/t.parquet")).get
      val hadoop = ParquetRelations.hadoopFiles(spark, new Path(s"file:$dir/t.parquet")).get
      // Hadoop's local file system hides its `.crc` checksum files, and
      // its mtime is in milliseconds, java.nio's finer
      assert(local.filterNot(_._1.endsWith(".crc")).map(f => (f._1, f._2)).sorted ==
        hadoop.map(f => (f._1, f._2)).sorted)
      assert(local.count(_._1.endsWith(".parquet")) == 3)
      assert(ParquetRelations.localFiles(Paths.get(s"$dir/missing.parquet")).isEmpty)
    }
  }
}
