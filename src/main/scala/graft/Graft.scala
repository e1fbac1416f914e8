package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SeriesSelector
import graft.sources.{AdxSource, DataFusionSource, ElasticsearchSource, FileSource, GraftConfig, InfluxSource, MetadataConfig, MetadataSource, PiAfSource, PiWebApiSource, PluginSource, RedshiftSource, SimulatorSignal, SimulatorSource, SourceConfig, TdEngineSource, TimeSeriesSource}

/** The client facade — graft's equivalent of the reference's Flight API
  * surface (kukur/client.py: search, get_metadata, get_data,
  * get_plot_data, list_sources, get_source_structure), re-expressed as
  * DataFrame-returning calls so every answer is a distributed plan the
  * caller can keep composing.
  *
  * A kukur user's `Client().get_data(SeriesSelector(...), start, end)`
  * becomes `graft.getData("src", selector, start, end)`; the result is
  * the same canonical (ts, value[, quality]) relation, but nothing is
  * materialized until the caller acts on it.
  *
  * Every source kind — file-backed layouts, external-command plugins,
  * signal simulators and the wire-protocol connectors — implements
  * [[graft.sources.TimeSeriesSource]], registered programmatically
  * ([[register]]) or declared in a config file ([[Graft.fromConfig]]).
  * The facade answers each request through that one contract.
  */
final class Graft(spark: SparkSession) {

  graft.plans.GraftOptimizations.install(spark)

  /** Right: a registration. Left: a type declared in the config with no
    * connector in this build, which fails at use time — the
    * reference's lazy SourceFactory.get_source failure.
    */
  private val sources = mutable.LinkedHashMap.empty[String, Either[String, Graft.Registered]]

  /** Register any source kind; `metadata` extras layer over its own
    * metadata in [[getMetadata]].
    */
  def register(name: String, source: TimeSeriesSource, metadata: Seq[MetadataConfig] = Nil): this.type = {
    sources(name) = Right(Graft.Registered(source, metadata.map(new MetadataSource(_))))
    this
  }

  /** A file source; its `metadata` sidecars answer its search too. */
  def registerSource(name: String, config: SourceConfig, metadata: Seq[MetadataConfig] = Nil): this.type =
    register(name, new FileSource(config, metadata))

  def registerSimulatorSource(name: String, signals: Seq[SimulatorSignal]): this.type = {
    require(signals.nonEmpty, s"simulator source $name needs at least one signal")
    register(name, new SimulatorSource(signals))
  }

  def listSources: Seq[String] = sources.keys.toSeq

  private def registered(name: String): Graft.Registered =
    sources
      .getOrElse(name, throw new IllegalArgumentException(s"unknown source: $name"))
      .fold(typ => throw new IllegalArgumentException(s"source $name has unsupported type $typ"), identity)

  private def source(name: String): TimeSeriesSource = registered(name).source

  /** All series in a source (kukur search). */
  def search(sourceName: String): DataFrame = source(sourceName).search(spark)

  /** Canonical data frame for the whole source — file sources only:
    * other kinds have no "all of it" without a time range.
    */
  def readAll(sourceName: String): DataFrame = source(sourceName) match {
    case f: FileSource => f.data.read(spark)
    case other =>
      throw new IllegalArgumentException(s"readAll needs a file-backed source; $sourceName is ${other.getClass.getSimpleName}")
  }

  /** Range data for one series (kukur get_data) over [start, end). */
  def getData(sourceName: String, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame =
    source(sourceName).getData(spark, selector, start, end)

  /** Plot-ready downsample (kukur get_plot_data): the source's plot
    * action, or the client-side min/max/first/last bucketing of its data.
    */
  def getPlotData(
      sourceName: String,
      selector: SeriesSelector,
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
  ): DataFrame = source(sourceName).getPlotData(spark, selector, start, end, intervalCount)

  /** Metadata for a series (kukur get_metadata). With `metadata_sources`
    * extras, kukur's factory-wrapper merge ([[MetadataSource.layered]]):
    * the source's own metadata first, then the extras in order. The own
    * answer is for this one selector, so a tag it does not echo reads
    * as the selector's.
    */
  def getMetadata(sourceName: String, selector: SeriesSelector = SeriesSelector("", Map.empty)): DataFrame = {
    val r = registered(sourceName)
    val src = r.source
    if (r.metadata.isEmpty) src.getMetadata(spark, selector)
    else {
      val own = src.ownMetadata(spark, selector).map { m =>
        src.tagColumns.filterNot(m.columns.contains).foldLeft(m)((d, t) => d.withColumn(t, lit(selector.tags.get(t).orNull).cast("string")))
      }
      MetadataSource.layered(selector, own.map(src.tagColumns -> _).toSeq ++ r.metadata.map(x => x.tagColumns -> x.read(spark)))
    }
  }

  /** Tag/field structure of a source (kukur get_source_structure). */
  def getSourceStructure(sourceName: String): DataFrame = source(sourceName).sourceStructure(spark)

  /** Source connectivity diagnostic — the reference's `test` CLI
    * subcommand (kukur/subcommands/test_source.py + source/test.py):
    * exercise search, then metadata / data / plot for the first series
    * the search returns, WITHOUT persisting anything. One summary row
    * per action: `(action, ok, rows, error)` — rows = -1 on failure,
    * error carries the exception message, and actions a source kind
    * doesn't support (simulator metadata) report ok = false with the
    * reason rather than aborting the probe.
    */
  def testSource(sourceName: String, start: Timestamp, end: Timestamp, intervalCount: Int = 100): DataFrame = {
    import spark.implicits._
    def probe(action: String)(f: => DataFrame): (String, Boolean, Long, String) =
      try { val n = f.count(); (action, true, n, null) }
      catch { case e: Exception => (action, false, -1L, e.getMessage) }

    val searchRow = probe("search")(search(sourceName))
    // first series of the search result drives the per-series actions,
    // like test_source.py's --name argument. The probe key is the
    // source's OWN series keys — a config-declared source defaults to
    // kukur's spaced "series name" tag, and multi-tag sources need
    // every tag to name one series
    val selector: Option[SeriesSelector] =
      try {
        val found = search(sourceName)
        val keys = source(sourceName).seriesKeys(found)
        val first = found
          .select(keys.map(c => col(c).cast("string")): _*)
          .orderBy(keys.map(col): _*)
          .limit(1)
          .collect()
        first.headOption.map(r => SeriesSelector(sourceName, keys.indices.filterNot(r.isNullAt).map(i => keys(i) -> r.getString(i)).toMap))
      } catch { case _: Exception => None }

    val perSeries = selector match {
      // keep the action set stable (test_source.py reports every probed
      // action): all three per-series rows appear with the reason, not
      // just a lone 'data' row
      case None =>
        Seq("metadata", "data", "plot").map(a => (a, false, -1L, "search returned no series to probe"))
      case Some(sel) =>
        Seq(
          probe("metadata")(getMetadata(sourceName, sel)),
          probe("data")(getData(sourceName, sel, start, end)),
          probe("plot")(getPlotData(sourceName, sel, start, end, intervalCount)),
        )
    }
    (searchRow +: perSeries).toDF("action", "ok", "rows", "error")
  }
}

object Graft {

  def apply(spark: SparkSession): Graft = new Graft(spark)

  /** A registered source and its `metadata_sources` extras, in
    * precedence order — kukur's SourceWrapper (kukur/source/__init__.py).
    */
  private final case class Registered(source: TimeSeriesSource, metadata: Seq[MetadataSource])

  /** Build a facade from a declarative config file — the reference's
    * primary UX (`Kukur.toml` + kukur/config.py): every source in the
    * file (plus its `include` fragments) is registered with its
    * metadata sidecars, mappings and quality mapping resolved. See
    * [[graft.sources.GraftConfig]] for the accepted JSON/TOML
    * structure; `type = "plugin"` and `type = "simulator"` sources
    * register alongside the file-backed kinds.
    */
  def fromConfig(spark: SparkSession, configPath: String): Graft = {
    val g = new Graft(spark)
    GraftConfig.load(configPath).foreach {
      case GraftConfig.DeclaredFile(name, data, metadata) => g.registerSource(name, data, metadata)
      case GraftConfig.DeclaredPlugin(name, cmd, configJson, source, qualityGood) =>
        g.register(name, PluginSource(cmd, configJson, source, qualityGood))
      case GraftConfig.DeclaredSimulator(name, signals) => g.registerSimulatorSource(name, signals)
      case GraftConfig.DeclaredInflux(name, config, metadata) => g.register(name, new InfluxSource(config), metadata)
      case GraftConfig.DeclaredEs(name, config, options) => g.register(name, new ElasticsearchSource(config, options))
      case GraftConfig.DeclaredPiWebApi(name, config) => g.register(name, new PiWebApiSource(config))
      case GraftConfig.DeclaredPiAf(name, config) => g.register(name, new PiAfSource(config))
      case GraftConfig.DeclaredAdx(name, config) => g.register(name, new AdxSource(config))
      case GraftConfig.DeclaredDataFusion(name, config) => g.register(name, new DataFusionSource(config))
      case GraftConfig.DeclaredTdEngine(name, config, metadata) => g.register(name, new TdEngineSource(config), metadata)
      case GraftConfig.DeclaredRedshift(name, config, metadata) => g.register(name, new RedshiftSource(config), metadata)
      case GraftConfig.DeclaredUnavailable(name, typ) => g.sources(name) = Left(typ)
    }
    g
  }
}
