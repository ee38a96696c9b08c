package graft.state

import java.nio.file.{FileVisitResult, Files, Paths, SimpleFileVisitor, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.WeakHashMap
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.RelationBridge

/** Parquet relations resolved once per (session, path, file listing).
  *
  * `spark.read.parquet` lists the path through Hadoop (on `file:` that
  * loads every file's permissions), infers the schema with a one-task Spark
  * job, and analyzes a new relation — 100–200 ms per call (traced `lookup`
  * read 202 ms of a 404 ms key query before this memo; a driver-resident
  * key lookup takes about 20 ms end to end, see [[MaterializedState]]).
  * [[read]] pays that once: a per-session memo keeps, for each
  * path, one entry of (fingerprint, analyzed relation). Every call hands out
  * a copy of that relation with fresh attribute ids, exactly what a new
  * `spark.read.parquet` would give (so a query that joins a table with
  * itself stays unambiguous), with no listing, no job and no re-analysis —
  * the reuse Spark's own session catalog applies to a catalog table's
  * relation.
  *
  * The fingerprint is the sorted (relative file, length, mtime) of every
  * file under the path, listed with `java.nio` on `file:` paths and with
  * Hadoop `listStatus` elsewhere (neither reads data or permissions), plus
  * the session settings that change the inferred schema. A mismatch
  * re-resolves and replaces the entry, so a table rewritten under the same
  * path is never served stale. A path that cannot be listed that way (a
  * glob, a missing path) is resolved on every call, which also raises
  * Spark's own error for a missing one.
  *
  * Each entry's relation lists its files through a [[SkippingFileIndex]]
  * around the `InMemoryFileIndex` Spark built, so a query drops the files
  * whose footer min/max cannot match its key or range filters. The index
  * holds the entry's manifest: per file and top-level column, the [min, max]
  * of its values, read from the footers on the first query with such a
  * filter and kept for the entry's life. The manifest therefore belongs to
  * the same fingerprint: a rewritten table gets a new entry and is pruned
  * against fresh intervals, never stale ones.
  *
  * Sessions are weakly keyed. An entry's relation is bound to its session,
  * which keeps the key reachable, so a session's entries are also dropped
  * when its SparkContext stops: a stopped session stays collectable. A
  * session discarded while its SparkContext runs (a dropped `newSession()`)
  * is not: its entries, their manifests included, stay reachable until the
  * context stops.
  */
object ParquetRelations {

  /** Session settings that change the schema Spark infers from a footer. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private[graft] final case class Fingerprint(files: Seq[(String, Long, Long)], settings: Seq[Option[String]])

  /** One memo entry, valid for one fingerprint. The value is computed under
    * the entry's own lock, never inside the map's: concurrent first readers
    * share one computation, and a computation may consult another entry of
    * the same map (the artifact memo's radii need its centroids; a streaming
    * twin's run replays the aggregate run's staging).
    */
  private[state] final class Entry[V](val fingerprint: Option[Fingerprint]) {
    private var value: Option[V] = None
    def get(compute: => V): V = synchronized {
      if (value.isEmpty) value = Some(compute)
      value.get
    }
  }

  /** The entry of `key` valid for `fp`: the current one if its fingerprint
    * matches, else a fresh one that replaces it. No fingerprint never matches.
    */
  private[state] def entryFor[K, V](memo: ConcurrentHashMap[K, Entry[V]], key: K,
      fp: Option[Fingerprint]): Entry[V] =
    memo.compute(key, (_, old) =>
      if (old != null && fp.isDefined && old.fingerprint == fp) old else new Entry[V](fp))

  private val derivedTables = new ConcurrentHashMap[(String, String), Entry[Any]]()

  /** The table `name` derived from the inputs under `inputs` (the
    * materialized snapshot, the bucketed serving tables, each streaming run):
    * `build` runs once per listing of the files under `inputs`, JVM-wide, and
    * later calls return its value. A rewritten input rebuilds on its next
    * call; an input that cannot be listed rebuilds on every call (and a
    * missing one raises Spark's own error there).
    *
    * The key is the listing's files alone, not the session settings of
    * [[Fingerprint]]: `Tables.events` sets `nanosAsLong` inside the first
    * build, so a key taken before that build must match one taken after.
    * The key holds the `inputs` path, so hard links to one file under two
    * directories derive two tables.
    */
  private[graft] def derived[V](spark: SparkSession, inputs: String, name: String)(build: => V): V =
    entryFor(derivedTables, (inputs, name), fingerprint(spark, inputs).map(_.copy(settings = Nil)))
      .get(build).asInstanceOf[V]

  /** TEST HOOK: forget the derived table `name` of `inputs`, so its next
    * call builds it as a fresh JVM's would.
    */
  private[graft] def forgetDerivedForTest(inputs: String, name: String): Unit =
    derivedTables.remove((inputs, name))

  private val sessions =
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry[LogicalRelation]]]()

  private def memoOf(spark: SparkSession): ConcurrentHashMap[String, Entry[LogicalRelation]] =
    sessions.synchronized {
      val known = sessions.get(spark)
      if (known != null) known
      else {
        val sc = spark.sparkContext
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            sessions.synchronized(sessions.keySet.removeIf(_.sparkContext eq sc))
        })
        val fresh = new ConcurrentHashMap[String, Entry[LogicalRelation]]()
        sessions.put(spark, fresh)
        fresh
      }
    }

  /** The parquet table at `path`, resolved at most once per file listing. */
  def read(spark: SparkSession, path: String): DataFrame = read(spark, path, fingerprint(spark, path))

  /** The same for a listing the caller has already fingerprinted. */
  private[graft] def read(spark: SparkSession, path: String, fp: Option[Fingerprint]): DataFrame =
    RelationBridge.freshCopy(spark, entryFor(memoOf(spark), path, fp).get(resolve(spark, path)))

  private def resolve(spark: SparkSession, path: String): LogicalRelation =
    spark.read.parquet(path).queryExecution.analyzed match {
      case relation @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val index = new SkippingFileIndex(fs.location, () => fs.getHadoopConf(fs.sparkSession, fs.options))
        relation.copy(relation = fs.copy(location = index)(fs.sparkSession))
      case other =>
        throw new IllegalStateException(s"parquet read of $path is not a file relation:\n$other")
    }

  /** The listing fingerprint of `path` (see the object doc); `None` when it
    * cannot be listed that way. [[ArtifactStore]] keys trained artifacts on
    * it too.
    */
  private[graft] def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] = {
    val p = new Path(path)
    val scheme = p.toUri.getScheme
    val files =
      if (scheme == null || scheme == "file") localFiles(Paths.get(p.toUri.getPath))
      else hadoopFiles(spark, p)
    files.map(fs => Fingerprint(fs.sorted, inferenceConfs.map(spark.conf.getOption)))
  }

  /** (relative file, length, mtime in ns) under a local path, from one
    * directory walk that reads attributes only.
    */
  private[graft] def localFiles(root: NioPath): Option[Seq[(String, Long, Long)]] =
    if (!Files.exists(root)) None
    else {
      val out = ArrayBuffer[(String, Long, Long)]()
      Files.walkFileTree(root, new SimpleFileVisitor[NioPath] {
        override def visitFile(f: NioPath, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile)
            out += ((root.relativize(f).toString, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS)))
          FileVisitResult.CONTINUE
        }
      })
      Some(out.toSeq)
    }

  /** The same through Hadoop `listStatus`, for other file systems; it uses
    * only path, length and mtime, never permissions.
    */
  private[graft] def hadoopFiles(spark: SparkSession, root: Path): Option[Seq[(String, Long, Long)]] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else {
      val top = fs.getFileStatus(root)
      val base = top.getPath.toUri.getPath.stripSuffix("/")
      def walk(st: FileStatus): Iterator[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(walk) else Iterator(st)
      Some(walk(top).map { st =>
        (st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/"), st.getLen, st.getModificationTime)
      }.toSeq)
    }
  }
}
