package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** The one memo for file-source frames: every `spark.read…load(path)`
  * of graft's file sources (ConfiguredSource, Tables) goes through
  * [[load]] or, for a filename-keyed dir, [[loadSeriesFiles]].
  *
  * A fresh load pays a file listing, a Spark job for parquet-footer or
  * CSV-header inference and, with `inferSchema`, a full CSV pass — all
  * before the caller's own action. The memo keeps the resolved relation
  * instead.
  *
  * Contract:
  *   - Key: (session, qualified path, format, reader options, series
  *     key level). The options are part of the key because they shape
  *     the schema.
  *   - Every call lists the path once — the leaf files' path, length
  *     and modification time form the fingerprint. This is the listing
  *     Spark's file index would make for a fresh load, so a hit costs
  *     no more storage calls than a miss did before. A filename-keyed
  *     dir's [[SeriesFileIndex]] is built from that same listing, and
  *     [[seriesFiles]] names a per-file keyed dir's series from it.
  *   - Same fingerprint: the kept relation is returned with fresh
  *     attribute ids, so two reads of one source still self-join like
  *     two independent loads. No Spark job runs.
  *   - Changed fingerprint (a file rewritten with another length or
  *     mtime, added or deleted): the relation is rebuilt from scratch,
  *     so a deleted file is never scanned.
  *   - A path that matches nothing is not memoized: the plain load runs
  *     and raises Spark's own error.
  *   - Sessions never share a relation (it carries its session's
  *     conf). Entries of a session go when its SparkContext stops, and
  *     at most `MaxEntries` are kept, least recently used first out.
  *
  * [[probe]] keeps a driver-side yes/no answer about a path (the ORC
  * instant-type footer probe) under the same fingerprint rule.
  */
object SourceFrames {

  private type Fingerprint = Vector[(String, Long, Long)]
  private final case class Key(
      session: SparkSession,
      path: String,
      format: String,
      options: Map[String, String],
      level: Option[DirPartition],
  )
  private final case class Entry(fingerprint: Fingerprint, relation: LogicalPlan with MultiInstanceRelation)
  private final case class Listing(path: String, roots: Vector[FileStatus], files: Vector[FileStatus]) {
    lazy val fingerprint: Fingerprint = files.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
  }

  private val MaxEntries = 256

  private def lru[K, V]: java.util.LinkedHashMap[K, V] =
    // access-ordered: the eldest entry is the least recently read
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = this.size() > MaxEntries
    }
  private val memo = lru[Key, Entry]
  private val probes = lru[(String, String), (Fingerprint, Boolean)]
  private val watched = java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkContext, java.lang.Boolean])

  /** `spark.read.format(format).options(options).load(path)`, memoized
    * under the contract above.
    */
  def load(spark: SparkSession, format: String, options: Map[String, String], path: String): DataFrame =
    memoized(spark, format, options, path, None)

  /** A filename-keyed dir — one file per series directly under `path`,
    * the `level.key` tag in each file name — as one relation over a
    * [[SeriesFileIndex]]: the files' columns, inferred from the series
    * files as a plain load infers them, plus the tag as a string
    * partition column. Memoized like [[load]]; a miss infers the schema
    * from the memo's own listing, with no second one.
    */
  def loadSeriesFiles(spark: SparkSession, format: String, options: Map[String, String], path: String, level: DirPartition): DataFrame =
    memoized(spark, format, options, path, Some(level))

  /** The series files of a keyed dir under `path`, one path level per
    * entry of `levels`, each with its tag values: [[SeriesFileIndex.list]]
    * over the listing a [[load]] of `path` fingerprints. Empty when the
    * path matches nothing.
    */
  def seriesFiles(spark: SparkSession, path: String, levels: Seq[DirPartition]): Seq[(Seq[String], FileStatus)] =
    listing(spark, path).fold(Seq.empty[(Seq[String], FileStatus)])(l => SeriesFileIndex.list(l.roots, l.files, levels))

  /** `answer(path)`, kept while the listing fingerprint of `path` is
    * unchanged. `name` tells apart the probes of one path.
    */
  def probe(spark: SparkSession, path: String, name: String)(answer: => Boolean): Boolean =
    Try(listing(spark, path)).toOption.flatten match {
      case None => answer
      case Some(l) =>
        val key = (name, l.path)
        synchronized(Option(probes.get(key))).filter(_._1 == l.fingerprint) match {
          case Some((_, kept)) => kept
          case None =>
            val fresh = answer
            synchronized(probes.put(key, (l.fingerprint, fresh)))
            fresh
        }
    }

  private def memoized(
      spark: SparkSession,
      format: String,
      options: Map[String, String],
      path: String,
      level: Option[DirPartition],
  ): DataFrame = {
    def plain() = spark.read.format(format).options(options).load(path)
    Try(listing(spark, path)).toOption.flatten match {
      case None =>
        val df = plain()
        require(level.isEmpty, s"no series files at $path")
        df
      case Some(l) =>
        val key = Key(spark, l.path, format, options, level)
        synchronized(Option(memo.get(key))).filter(_.fingerprint == l.fingerprint) match {
          case Some(kept) => GraftSqlBridge.ofRows(spark, kept.relation.newInstance())
          case None =>
            val df = level.fold(plain())(indexed(spark, format, options, l, _))
            GraftSqlBridge.logicalPlan(df) match {
              case r: MultiInstanceRelation => remember(key, Entry(l.fingerprint, r))
              case _ =>
            }
            df
        }
    }
  }

  /** The relation a plain load of a spark-native `format` resolves,
    * over a [[SeriesFileIndex]] of the listing instead of Spark's own.
    */
  private def indexed(spark: SparkSession, format: String, options: Map[String, String], l: Listing, level: DirPartition): DataFrame = {
    val index = SeriesFileIndex(l.roots, l.files, level)
    val fileFormat: FileFormat = format match {
      case "csv"     => new CSVFileFormat
      case "parquet" => new ParquetFileFormat
      case "json"    => new JsonFileFormat
      case "orc"     => new OrcFileFormat
      case other     => throw new IllegalArgumentException(s"no file index for format $other")
    }
    val dataSchema = fileFormat
      .inferSchema(spark, options, index.files)
      .getOrElse(throw new IllegalArgumentException(s"unable to infer the $format schema of the series files at ${l.path}"))
    val relation = HadoopFsRelation(index, index.partitionSchema, GraftSqlBridge.asNullable(dataSchema), None, fileFormat, options)(spark)
    GraftSqlBridge.ofRows(spark, LogicalRelation(relation))
  }

  /** Entries currently kept (for specs). */
  private[graft] def size: Int = synchronized(memo.size())

  private def remember(key: Key, entry: Entry): Unit = synchronized {
    val sc = key.session.sparkContext
    if (watched.add(sc)) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = forget(sc)
      })
    }
    memo.put(key, entry)
  }

  private def forget(sc: SparkContext): Unit = synchronized {
    memo.keySet.removeIf(_.session.sparkContext eq sc)
    watched.remove(sc)
  }

  /** The qualified path, its roots and its leaf files (sorted by path),
    * or None when the path (or glob) matches nothing.
    */
  private def listing(spark: SparkSession, path: String): Option[Listing] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val roots = Option(fs.globStatus(p)).map(_.toVector).getOrElse(Vector.empty)
    def leaves(st: FileStatus): Vector[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toVector.flatMap(leaves) else Vector(st)
    if (roots.isEmpty) None
    else Some(Listing(fs.makeQualified(p).toString, roots, roots.flatMap(leaves).sortBy(_.getPath.toString)))
  }
}
