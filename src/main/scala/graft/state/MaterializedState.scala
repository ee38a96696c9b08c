package graft.state

import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationBridge

import graft.Tables
import graft.operators.StockAggregation
import graft.util.Fs

/** The serving-side materialized state table (S5's read half): the aggregate
  * snapshot written ONCE, which the interactive-query functions then read —
  * mirroring the reference, where IQ queries hit the pre-materialized RocksDB
  * store (`streams/KafkaStreamsService.java:84-90`) rather than re-consuming
  * the input topic. Re-computing the aggregation from raw events on every key
  * lookup (rounds 1–2 here) would re-scan the raw table at 100 TB; serving
  * from the snapshot makes a key query O(matching row-groups).
  *
  * [[read]] serves the snapshot one of two ways, decided on every call from
  * the session's conf by the rule Spark uses to broadcast a relation:
  *   - at or below `spark.sql.autoBroadcastJoinThreshold` (the parquet
  *     relation's size estimate at least 0 and at most the threshold) it is
  *     driver-resident, a `LocalRelation` of its rows sorted by `symbol`
  *     ([[KeySortedRows]]), the reference's in-memory store
  *     (`store/CustomInMemoryBytesStoreSupplier.java`). A key, multi-key or
  *     range query binary-searches those rows for its answer
  *     (`graft.operators.InteractiveQueries`); any other query is left to
  *     Catalyst, whose `ConvertToLocalRelation` evaluates its filters while
  *     optimizing. Collecting runs no Spark job and opens no file;
  *   - above it, the file-skipping parquet scan below, the only path that
  *     can serve a snapshot too large for the driver.
  *
  * Layout chosen for the serving patterns (key point lookup, key-range scan,
  * multi-key): range-partitioned by `symbol` and sorted within partitions, so
  * every parquet file covers a disjoint key interval and carries tight
  * min/max symbol statistics. A query on the scan path then skips data
  * twice:
  *   - files: the relation lists through [[SkippingFileIndex]], which
  *     keeps only the files whose footer [min, max] can match a KeyQuery,
  *     MultiKeyQuery or RangeQuery bound (one file of eight for a key);
  *   - row groups: `PushedFilters: [EqualTo/In/GreaterThanOrEqual/...(symbol,...)]`
  *     skip row groups inside the files read, via column min/max.
  * At cluster scale the same layout is a bucketed/sorted table (or liquid
  * clustering); the number of range partitions is sized to target file size,
  * not hardcoded — here 8 keeps files non-trivial at the test SFs.
  *
  * The raw-recompute plan remains the ORACLE (the DuckDB SQL recomputes from
  * events); the engine path reads the snapshot.
  */
object MaterializedState {

  private val built = new ConcurrentHashMap[String, String]()

  // the prefix keeps the leaf visible: Spark's file listing treats a name
  // starting with `_` or `.` (an absolute dir sanitizes to `_root_...`) as
  // hidden and logs "All paths were ignored" on every read
  private def stateDir(sfDir: String): Path =
    Paths.get("target", "state", "snapshot" + sfDir.replaceAll("[^A-Za-z0-9.]+", "_"))
      .toAbsolutePath

  /** Write the snapshot for this scale factor (once per JVM); returns its
    * path.
    */
  def ensure(spark: SparkSession, sfDir: String): String =
    built.computeIfAbsent(sfDir, _ => {
      val dir = stateDir(sfDir)
      StockAggregation.aggregate(Tables.transactions(spark, sfDir))
        .repartitionByRange(8, col("symbol"))
        .sortWithinPartitions("symbol")
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })

  /** The serving table: driver-resident at or below Spark's broadcast
    * threshold, otherwise the file-skipping scan (see the object doc).
    *
    * Both start from [[ParquetRelations.read]]: the snapshot is listed and
    * its schema inferred once per session, and each later call only
    * re-fingerprints the directory — the sorted (relative file, length,
    * mtime) of its files plus the schema-inference settings, no data read —
    * and gets a copy of the memoized relation with fresh attribute ids. On
    * the scan path, filters over `symbol` drop the files whose key interval
    * cannot match and push into the scan to skip row groups. On the
    * driver-resident path, the rows are collected and sorted by `symbol`
    * once per (directory, fingerprint) with that relation's schema, and each
    * call gets a copy of the `LocalRelation` with fresh attribute ids that
    * shares the sorted rows. Either way a snapshot rewritten under the same
    * directory is re-read, never served stale, and a deleted one drops its
    * rows and raises Spark's own missing-path error.
    */
  def read(spark: SparkSession, sfDir: String): DataFrame = serve(spark, ensure(spark, sfDir))

  /** Driver-resident snapshots, one entry per directory, valid for one
    * listing fingerprint. JVM-wide, not per session: a `LocalRelation` holds
    * no session. Concurrent first readers share one collect job. A
    * directory deleted since loses its entry on its next read.
    */
  private[graft] val resident = new ConcurrentHashMap[String, ParquetRelations.Entry[LocalRelation]]()

  /** [[read]] of the snapshot written at `path`. */
  private[graft] def serve(spark: SparkSession, path: String): DataFrame = {
    val fp = ParquetRelations.fingerprint(spark, path)
    // a path that no longer lists keeps no rows; the read below raises
    // Spark's error for a missing one
    if (fp.isEmpty) resident.remove(path)
    val scan = ParquetRelations.read(spark, path, fp)
    if (!RelationBridge.fitsBroadcast(scan)) scan
    else RelationBridge.freshCopy(spark, ParquetRelations.entryFor(resident, path, fp)
      .get(KeySortedRows.sort(RelationBridge.collectLocal(scan), "symbol")))
  }

  // private[graft] so the fresh-JVM rerun spec can clear the memo and
  // re-enter the build path against a pre-existing on-disk layout
  private[graft] val bucketedBuilt = new ConcurrentHashMap[String, (String, String)]()

  /** Co-located serving tables: the aggregate snapshot AND a per-symbol
    * latest-event-time table, both written once as parquet tables BUCKETED by
    * `symbol` into the same bucket count. A join between them then needs NO
    * exchange on either side — the bucket layout IS the join partitioning,
    * which is the storage-level answer to "minimize shuffles" for repeated
    * large-large keyed joins (broadcast covers small-large;
    * `q_multi_key_large`). At cluster scale this is a bucketed warehouse
    * table; the bucket count is sized to data volume, not hardcoded — 8 keeps
    * files non-trivial at the test SFs.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (aggT, mtsT) = bucketedBuilt.computeIfAbsent(sfDir, _ => {
      // sanitized name + exact-dir hash: sanitization alone (and the
      // catalog's case folding) would collide distinct dirs onto one table
      // name, and the tableExists guard would then serve the wrong data
      val suffix = sfDir.replaceAll("[^A-Za-z0-9]+", "_").toLowerCase +
        "_" + java.lang.Integer.toHexString(sfDir.hashCode)
      val aggT = s"graft_agg$suffix"
      val mtsT = s"graft_maxts$suffix"
      val base = stateDir(sfDir).resolveSibling(
        stateDir(sfDir).getFileName.toString + "_bucketed")
      if (!spark.catalog.tableExists(aggT)) {
        // catalog is per-JVM but the external path persists: a fresh JVM with
        // a stale directory would fail the CTAS (non-empty location) — clear
        // it first, mirroring how ensure() tolerates leftover state
        Fs.deleteRecursively(base.resolve("agg"))
        StockAggregation.aggregate(Tables.transactions(spark, sfDir))
          .write.bucketBy(8, "symbol").sortBy("symbol")
          .option("path", base.resolve("agg").toString)
          .mode("overwrite").format("parquet").saveAsTable(aggT)
      }
      if (!spark.catalog.tableExists(mtsT)) {
        Fs.deleteRecursively(base.resolve("mts"))
        Tables.transactionsWithTs(spark, sfDir)
          .groupBy("symbol")
          .agg(max(unix_millis(col("ts"))).as("max_ts_ms"))
          .write.bucketBy(8, "symbol").sortBy("symbol")
          .option("path", base.resolve("mts").toString)
          .mode("overwrite").format("parquet").saveAsTable(mtsT)
      }
      (aggT, mtsT)
    })
    spark.table(aggT).join(spark.table(mtsT), "symbol")
  }

}
