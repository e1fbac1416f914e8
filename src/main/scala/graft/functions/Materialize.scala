package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of "pin, cache, release" in graft.
  *
  *  - [[pin]] is an eager `localCheckpoint()`: the frame is computed now
  *    and read back from executor storage with a constant-size plan.
  *    Pin what several consumers read, or what an iterative loop would
  *    otherwise re-plan every round: a lazily built cache under memory
  *    pressure evicts and silently re-runs its plan per consumer, while
  *    a checkpointed partition spills to disk.
  *  - [[cache]] is a lazy `.cache()`, for a frame whose consumers are
  *    planned before it is first computed.
  *  - [[release]] frees the storage a frame holds: its checkpoint RDD or
  *    its cache entry. It always blocks. An asynchronous release racing
  *    the next structurally identical checkpoint or cache made run times
  *    vary tenfold, so no release in graft is asynchronous.
  *  - [[scoped]] owns the lifecycle. Every pin and cache registers with
  *    the innermost open scope on the calling thread (a scope never sees
  *    another thread's). When the block returns, the scope releases each
  *    frame it registered that the result no longer reads, and hands the
  *    frames the result still reads to the enclosing scope. When the
  *    block throws, it releases everything it registered. A result is a
  *    frame, or a product (tuple, case class) whose fields are frames;
  *    any other result reads nothing. A plan reads a checkpoint through
  *    a `LogicalRDD` in its analyzed plan (or that RDD's lineage), and a
  *    cache through an `InMemoryRelation` in its `withCachedData`.
  *  - [[releaseAll]] is the sweep between queries: it releases every
  *    cache and persisted RDD of the session, a returned result's own
  *    pins among them.
  *
  * An op that returns a pinned frame hands that pin to its caller. A
  * library caller runs the op under `Materialize.scoped`, or calls
  * `releaseAll` between queries. Iterative loops release superseded
  * rounds themselves, so peak storage stays one round deep.
  */
object Materialize {

  private val scopes = ThreadLocal.withInitial[List[ArrayBuffer[DataFrame]]](() => Nil)

  private def register(df: DataFrame): Unit = scopes.get.headOption.foreach(_ += df)

  /** `df` checkpointed to executor storage now (eager `localCheckpoint`). */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint().tap(register)

  /** `df` marked for caching on its first computation (lazy `cache`). */
  def cache(df: DataFrame): DataFrame = df.cache().tap(register)

  /** Blocking release of what each frame holds: its cache entry if it
    * is cached, else the checkpoint it reads (see
    * `GraftSqlBridge.checkpointedRdd`).
    */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    scopes.get.foreach(_.filterInPlace(_ ne df))
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = true)
    else GraftSqlBridge.checkpointedRdd(df).foreach(_.unpersist(blocking = true))
  }

  /** Runs `body` as a scope: see the object's contract. */
  def scoped[T](body: => T): T = {
    val held = ArrayBuffer.empty[DataFrame]
    val outer = scopes.get
    scopes.set(held :: outer)
    val out =
      try body
      catch {
        case e: Throwable =>
          Try(release(held.toSeq: _*)).failed.foreach(e.addSuppressed)
          throw e
      } finally scopes.set(outer)
    val results = out match {
      case d: Dataset[_] => Seq(d.toDF())
      case p: Product    => p.productIterator.collect { case d: Dataset[_] => d.toDF() }.toSeq
      case _             => Nil
    }
    val rdds = results.flatMap(GraftSqlBridge.rddReads).toSet
    val caches = results.flatMap(GraftSqlBridge.cacheReads)
    def read(f: DataFrame): Boolean = GraftSqlBridge.cacheEntry(f) match {
      case Some(entry) => caches.exists(_ eq entry)
      case None        => GraftSqlBridge.checkpointedRdd(f).exists(r => rdds(r.id))
    }
    val (kept, done) = held.toSeq.partition(read)
    release(done: _*)
    outer.headOption.foreach(_ ++= kept)
    out
  }

  /** Blocking release of every cache and persisted RDD of the session. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
