package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Materialize

/** Single dev-tool entry point for plan inspection and stage timing
  * (not part of the library surface). Replaces the one-off probes that
  * accumulated across rounds (BucketExplain, CcProfile, CurateProfile,
  * ExplainCheck, ExplainProbe, MinhashProfile).
  *
  * Usage: runMain graft.tools.Profile <stage> [args]
  *   explain <query...> [--sf dir]   formatted physical plans
  *   time <query...> [--sf dir]      warm once at sf0.001, then 2 timed runs
  *   compare <qA> <qB> [--sf dir]    row-set equality of two queries
  *   smoke                           driver-like entry() smoke check
  *   minhash [--sf dir]              minhash pipeline stage timings
  *   cc [--sf dir]                   label-propagation round timings
  *   ccprefix [--sf dir]             prefix-fed dedupGroups timings, lazy vs checkpointed
  *   curate [--sf dir]               clean-corpus stage timings
  *   buckets [--sf dir]              optimized plan of lshBuckets
  */
object Profile {
  private def session(cores: Int): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftOptimizations.install(spark)
    spark
  }

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val sfDir = flags
      .collectFirst { case f if f.startsWith("--sf=") => f.stripPrefix("--sf=") }
      .getOrElse("/root/testdata/sf0.01")
    val stage = positional.headOption.getOrElse("explain")
    val rest = positional.drop(1).toSeq

    stage match {
      case "explain" =>
        val spark = session(4)
        val names = if (rest.nonEmpty) rest else Seq("ts_get_data_multi", "q5_multijoin", "ts_plot_data")
        names.foreach { n =>
          println(s"=== $n ===")
          graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        }
        spark.stop()

      case "time" =>
        val spark = session(32)
        rest.foreach { name =>
          graft.SparkEntry.queries
            .get(name)
            .fold(System.err.println(s"[profile] unknown query: $name")) { q =>
              noop(q(spark, "/root/testdata/sf0.001")) // warm the IO + codegen path
              for (i <- 1 to 2) time(s"$name run$i")(noop(q(spark, sfDir)))
              Materialize.releaseAll(spark)
            }
        }
        spark.stop()

      case "compare" =>
        val Seq(qa, qb) = rest.take(2)
        val spark = session(32)
        val a = graft.SparkEntry.queries(qa)(spark, sfDir)
        val b = graft.SparkEntry.queries(qb)(spark, sfDir)
        val cols = a.columns.sorted.toSeq
        val onlyA = a.select(cols.map(col): _*).exceptAll(b.select(cols.map(col): _*)).count()
        val onlyB = b.select(cols.map(col): _*).exceptAll(a.select(cols.map(col): _*)).count()
        println(s"[profile] $qa rows=${a.count()} $qb rows=${b.count()} onlyA=$onlyA onlyB=$onlyB")
        if (onlyA != 0 || onlyB != 0) { spark.stop(); sys.exit(1) }
        spark.stop()

      case "smoke" =>
        // deliberately NO nanosAsLong — mimics the driver's smoke-check
        // session; Tables.events must set it dynamically
        val spark = SparkSession
          .builder()
          .master("local[4]")
          .config("spark.sql.shuffle.partitions", "4")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        println(s"entry rows: ${graft.SparkEntry.entry(spark).count()}")
        spark.stop()

      case "minhash" =>
        val spark = session(32)
        val docs = graft.Tables.documents(spark, sfDir)
        time("docs")(docs.count())
        val sigs = graft.functions.DedupFunctions.minhashSignatures(docs, "doc_id", "text")
        time("signatures (sum)")(sigs.select(sum(size(col("sig")))).collect().head.getLong(0))
        time("buckets")(graft.functions.DedupFunctions.lshBuckets(sigs).count())
        time("candidates")(graft.functions.DedupFunctions.minhashCandidates(docs, "doc_id", "text").count())
        time("verified")(noop(graft.SparkEntry.queries("dedup_minhash_verified")(spark, sfDir)))
        spark.stop()

      case "cc" =>
        val spark = session(32)
        val pairs = graft.functions.DedupFunctions
          .jaccardPairs(graft.Tables.documents(spark, sfDir), "doc_id", "text")
          .transform(Materialize.pin)
        time("pairs")(pairs.count())
        time("dedupGroups")(noop(graft.functions.DedupFunctions.dedupGroups(pairs)))
        time("dedupGroupsStar")(noop(graft.functions.DedupFunctions.dedupGroupsStar(pairs)))
        spark.stop()

      case "ccprefix" =>
        // r6 regression probe: prefix-fed CC queries. Separates the
        // prefix-plan evaluation from the CC loop, lazy vs checkpointed.
        val spark = session(32)
        val docs = graft.Tables.documents(spark, sfDir)
        docs.count()
        for (round <- 1 to 2) {
          println(s"--- round $round")
          Materialize.releaseAll(spark)
          val prefixPairs = graft.functions.DedupFunctions.jaccardPairsPrefix(docs, "doc_id", "text")
          time("prefix pairs eval")(noop(prefixPairs))
          Materialize.releaseAll(spark)
          val ckpt = graft.functions.DedupFunctions
            .jaccardPairsPrefix(docs, "doc_id", "text")
            .transform(Materialize.pin)
          time("prefix pairs ckpt")(ckpt.count())
          time("dedupGroups on ckpt")(noop(graft.functions.DedupFunctions.dedupGroups(ckpt)))
          time("star on ckpt")(noop(graft.functions.DedupFunctions.dedupGroupsStar(ckpt)))
          Materialize.releaseAll(spark)
          time("dedupGroups lazy (query shape)")(noop(graft.SparkEntry.queries("dedup_groups")(spark, sfDir)))
          Materialize.releaseAll(spark)
          time("star lazy (query shape)")(noop(graft.SparkEntry.queries("dedup_groups_star")(spark, sfDir)))
        }
        spark.stop()

      case "curate" =>
        val spark = session(32)
        graft.Tables.documents(spark, sfDir).count() // warm the IO path
        for (round <- 1 to 2) {
          println(s"--- round $round")
          Materialize.releaseAll(spark)
          time("pipeline_clean_corpus")(noop(graft.SparkEntry.queries("pipeline_clean_corpus")(spark, sfDir)))
          time("pipeline_curate")(noop(graft.SparkEntry.queries("pipeline_curate")(spark, sfDir)))
        }
        spark.stop()

      case "buckets" =>
        val spark = session(4)
        val sigs = graft.functions.DedupFunctions
          .minhashSignatures(graft.Tables.documents(spark, sfDir), "doc_id", "text")
        println(graft.functions.DedupFunctions.lshBuckets(sigs).queryExecution.optimizedPlan.treeString.take(8000))
        spark.stop()

      case other =>
        System.err.println(s"unknown stage: $other")
        sys.exit(2)
    }
  }
}
