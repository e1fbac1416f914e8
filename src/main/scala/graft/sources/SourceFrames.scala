package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one memo for file-source frames: every `spark.read…load(path)`
  * of graft's file sources (ConfiguredSource, Tables) goes through
  * [[load]].
  *
  * A fresh load pays a file listing, a Spark job for parquet-footer or
  * CSV-header inference and, with `inferSchema`, a full CSV pass — all
  * before the caller's own action. The memo keeps the resolved relation
  * instead.
  *
  * Contract:
  *   - Key: (session, qualified path, format, reader options). The
  *     options are part of the key because they shape the schema.
  *   - Every call lists the path once — the leaf files' path, length
  *     and modification time form the fingerprint. This is the listing
  *     Spark's file index would make for a fresh load, so a hit costs
  *     no more storage calls than a miss did before.
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
  */
object SourceFrames {

  private final case class Key(session: SparkSession, path: String, format: String, options: Map[String, String])
  private final case class Entry(fingerprint: Vector[(String, Long, Long)], relation: LogicalPlan with MultiInstanceRelation)

  private val MaxEntries = 256

  // access-ordered: the eldest entry is the least recently read
  private val memo = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean = this.size() > MaxEntries
  }
  private val watched = java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkContext, java.lang.Boolean])

  /** `spark.read.format(format).options(options).load(path)`, memoized
    * under the contract above.
    */
  def load(spark: SparkSession, format: String, options: Map[String, String], path: String): DataFrame = {
    def fresh() = spark.read.format(format).options(options).load(path)
    Try(listing(spark, path)).toOption.flatten match {
      case None => fresh()
      case Some((resolved, fingerprint)) =>
        val key = Key(spark, resolved, format, options)
        synchronized(Option(memo.get(key))).filter(_.fingerprint == fingerprint) match {
          case Some(kept) => GraftSqlBridge.ofRows(spark, kept.relation.newInstance())
          case None =>
            val df = fresh()
            GraftSqlBridge.logicalPlan(df) match {
              case r: MultiInstanceRelation => remember(key, Entry(fingerprint, r))
              case _ =>
            }
            df
        }
    }
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

  /** The qualified path and the fingerprint of its leaf files, or None
    * when the path (or glob) matches nothing.
    */
  private def listing(spark: SparkSession, path: String): Option[(String, Vector[(String, Long, Long)])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val roots = Option(fs.globStatus(p)).map(_.toVector).getOrElse(Vector.empty)
    def leaves(st: FileStatus): Vector[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toVector.flatMap(leaves) else Vector(st)
    if (roots.isEmpty) None
    else {
      val files = roots.flatMap(leaves).map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      Some(fs.makeQualified(p).toString -> files.sortBy(_._1))
    }
  }
}
