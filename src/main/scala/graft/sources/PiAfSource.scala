package graft.sources

import java.sql.Timestamp

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.model.SeriesSelector

/** PI Asset Framework source over PI Web API
  * (kukur/source/piwebapi_af/pi_asset_framework.py, shared verbatim by
  * the reference's `piwebapi-af` and `piwebapi-af-template` types —
  * piwebapi_af.py:39 and piwebapi_af_template.py:32 both delegate to
  * the same PIAssetFramework).
  *
  * Two search modes, exactly the reference's:
  * - element-template search (`_search_template`, :301): a BATCH
  *   request pairing a `GetElements` template query (optionally under
  *   a `root_id` element, verified to live in the configured database)
  *   with a templated `GetAttributes` child request expanded over
  *   `$.GetElements.Content.Items[*].Links.Attributes`, paged by
  *   `startIndex`;
  * - attribute-category search (`_search_attribute_category`, :446):
  *   a `GetAttributes` search (`Element:{ Name:=* } category:"…"`)
  *   with a templated `GetElement` parent lookup per attribute.
  *
  * Batch responses validate like `validate_batch_response` (:847):
  * per-request 400s and 409s raise with their extracted messages; the
  * "Some JSON paths did not select any tokens" 400 means an empty
  * element page and ends pagination. Attribute metadata maps through
  * `_get_metadata` (:889): unit/step/zero+span/type (unknown types
  * invisible), enumeration sets resolved and cached, element
  * description as fallback, the element's template name becoming a
  * metadata column valued with the element name. `attributes_as_fields`
  * picks between attribute-as-field (tags: element name + `__id__`)
  * and attribute-as-series (tags: attribute name + element);
  * `use_attribute_path` names attributes by their `|`-path.
  *
  * Data reads resolve `streams/{__id__}/recorded|plot` from the web
  * API root and reuse the DA source's paginated fetch engine
  * (boundary-restart pagination, system states, quality flags —
  * [[PiWebApiSource.fetchData]]). Multi-series reads fan out per
  * series across executor tasks; since the `__id__` tag IS the stream
  * id, no per-series name resolution is needed at all.
  */
final case class PiAfConfig(
    databaseUri: String,
    rootId: Option[String] = None,
    elementTemplate: Option[String] = None,
    elementCategory: Option[String] = None,
    attributeNames: Option[Seq[String]] = None,
    attributeCategory: Option[String] = None,
    allowedDataReferences: Seq[String] = Seq("PI Point"),
    attributesAsFields: Boolean = true,
    useAttributePath: Boolean = false,
    includeSystemStates: Boolean = false,
    timeoutSeconds: Int = 60,
    metadataTimeoutSeconds: Int = 10,
    maxReturnedItemsPerCall: Int = 150000,
    maxReturnedMetadataItemsPerCall: Int = 150,
    webIdType: String = "Full",
    username: Option[String] = None,
    password: Option[String] = None,
) extends Serializable {
  /** The DA-shaped config the shared data engine needs. */
  private[sources] def dataConfig: PiWebApiConfig =
    PiWebApiConfig(
      dataArchiveUri = databaseUri,
      timeoutSeconds = timeoutSeconds,
      maxReturnedItemsPerCall = maxReturnedItemsPerCall,
      includeSystemStates = includeSystemStates,
      username = username,
      password = password,
    )

  /** Metadata GETs honor metadata_request_timeout_seconds (the
    * reference uses it for element verification and enumeration sets,
    * pi_asset_framework.py:824,942), not the data timeout.
    */
  private[sources] def metadataConfig: PiWebApiConfig =
    dataConfig.copy(timeoutSeconds = metadataTimeoutSeconds)
}

class PiAfSource(cfg: PiAfConfig) extends TimeSeriesSource with Serializable {

  import PiAfSource._

  /** The stream id names a series; data reads need nothing else. */
  override def tagColumns: Seq[String] = Seq("__id__")

  /** All attributes of the selected elements, one row per series —
    * dynamic schema over the union of metadata keys (the element
    * template's NAME is itself a column, valued with element names).
    */
  def search(spark: SparkSession): DataFrame = {
    val rows: Seq[Map[String, String]] =
      if (cfg.elementTemplate.exists(_.trim.nonEmpty)) searchTemplate()
      else if (cfg.attributeCategory.exists(_.trim.nonEmpty)) searchCategory()
      // the reference logs and yields nothing without a template or
      // category (pi_asset_framework.py:296)
      else Nil
    val columns = rows.foldLeft(Vector.empty[String]) { (acc, r) =>
      acc ++ r.keys.filterNot(acc.contains)
    }
    val schema = StructType(columns.map(StructField(_, StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row.fromSeq(columns.map(r.get(_).orNull))), 1),
      schema,
    )
  }

  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame =
    pointsFrame(spark, PiWebApiSource.fetchData(cfg.dataConfig, dataUrl(selector, "recorded"), start, end, None))

  override def getPlotData(
      spark: SparkSession,
      selector: SeriesSelector,
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
  ): DataFrame =
    pointsFrame(
      spark,
      PiWebApiSource.fetchData(cfg.dataConfig, dataUrl(selector, "plot"), start, end, Some(intervalCount)),
    )

  /** The reference's AF get_metadata raises NotImplementedError
    * (piwebapi_af.py:55) — search carries the metadata instead.
    */
  override def getMetadata(spark: SparkSession, selector: SeriesSelector): DataFrame =
    throw new UnsupportedOperationException("piwebapi-af sources answer metadata through search")

  /** Distributed multi-series read: the `__id__` tag is the stream id,
    * so each task fetches its stream directly — zero per-series
    * metadata round trips.
    */
  def dataForKeys(spark: SparkSession, keys: Seq[SeriesKey], start: Timestamp, end: Timestamp): DataFrame = {
    require(keys.nonEmpty, "piwebapi-af data read needs at least one series")
    val c = cfg
    val tasks = keys.map { k =>
      val id = k.tags.getOrElse("__id__", throw new IllegalArgumentException("selector needs an __id__ tag"))
      (k.name, urls(c).root(Seq("streams", id, "recorded")))
    }
    val rows = spark.sparkContext
      .parallelize(tasks, math.min(tasks.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (name, url) =>
        PiWebApiSource.fetchData(c.dataConfig, url, start, end, None).map { case (t, v, q) => Row(name, t, v, q) }
      }
    spark.createDataFrame(
      rows,
      StructType(Seq(
        StructField("series_name", StringType),
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("value", StringType),
        StructField("quality", org.apache.spark.sql.types.IntegerType),
      )),
    )
  }

  private def pointsFrame(spark: SparkSession, pts: Seq[(Timestamp, String, Int)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(pts.map { case (t, v, q) => Row(t, v, q) }, 1),
      StructType(Seq(
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("value", StringType),
        StructField("quality", org.apache.spark.sql.types.IntegerType),
      )),
    )

  private def dataUrl(selector: SeriesSelector, kind: String): String = {
    val id = selector.tags.getOrElse(
      "__id__",
      throw new IllegalArgumentException("selector needs an __id__ tag"),
    )
    urls(cfg).root(Seq("streams", id, kind))
  }

  // ------------------------------------------------------- template mode

  private def searchTemplate(): Seq[Map[String, String]] = {
    val template = cfg.elementTemplate.get
    val u = urls(cfg)
    val elementSearchUrl = cfg.rootId match {
      case Some(id) =>
        verifyElementInDatabase(u.root(Seq("elements", id)))
        u.root(Seq("elements", id, "elements"))
      case None => u.database(Seq("elements"))
    }
    val dicts = new DictionaryLookup(cfg)
    val out = Seq.newBuilder[Map[String, String]]
    var startIndex = 0
    var done = false
    while (!done) {
      val elementParams = Seq(
        "templateName" -> template,
        "searchFullHierarchy" -> "true",
        "selectedFields" -> Seq(
          "Items.Name", "Items.WebId", "Items.Description", "Items.CategoryNames", "Items.Links.Attributes",
        ).mkString(";"),
        "maxCount" -> cfg.maxReturnedMetadataItemsPerCall.toString,
        "startIndex" -> startIndex.toString,
        "webIdFormat" -> cfg.webIdType,
      ) ++ cfg.elementCategory.map("categoryName" -> _)
      val attributeParams = Seq(
        "searchFullHierarchy" -> "true",
        "selectedFields" -> Seq(
          "Items.WebId", "Items.Name", "Items.Description", "Items.Path", "Items.CategoryNames",
          "Items.DataReferencePlugin", "Items.Type", "Items.TypeQualifier",
          "Items.DefaultUnitsNameAbbreviation", "Items.Step", "Items.Span", "Items.Zero",
          "Items.Links.EnumerationValues",
        ).mkString(";"),
        "maxCount" -> cfg.maxReturnedMetadataItemsPerCall.toString,
        "webIdType" -> cfg.webIdType,
      ) ++ cfg.attributeCategory.map("categoryName" -> _)
      val batch =
        s"""{"GetElements":{"Method":"GET","Resource":${js(addParams(elementSearchUrl, elementParams))}},""" +
          s""""GetAttributes":{"Method":"GET","RequestTemplate":{"Resource":${js("{0}?" + encode(attributeParams))}},""" +
          s""""Parameters":["$$.GetElements.Content.Items[*].Links.Attributes"],"ParentIds":["GetElements"]}}"""
      validateBatch(post(cfg, u.root(Seq("batch")), batch)) match {
        case None => done = true
        case Some(result) =>
          val elements = result.path("GetElements").path("Content").path("Items")
          val attributes = result.path("GetAttributes").path("Content").path("Items")
          (0 until elements.size()).foreach { i =>
            val element = elements.get(i)
            val attrItems = attributes.get(i).path("Content").path("Items")
            out ++= attributeRows(template, element, attrItems, dicts)
          }
          if (elements.size() != cfg.maxReturnedMetadataItemsPerCall) done = true
          else startIndex += elements.size()
      }
    }
    out.result()
  }

  private def attributeRows(
      templateKey: String,
      element: JsonNode,
      attrItems: JsonNode,
      dicts: DictionaryLookup,
  ): Seq[Map[String, String]] = {
    val elementMeta = Map(templateKey -> element.path("Name").asText()) ++ {
      val cats = element.path("CategoryNames").elements().asScala.map(_.asText()).toSeq
      if (cats.nonEmpty) Map("Element category" -> cats.mkString(";")) else Map.empty
    }
    (0 until attrItems.size()).flatMap { j =>
      attributeRow(element, attrItems.get(j), elementMeta, dicts)
    }
  }

  private def attributeRow(
      element: JsonNode,
      attribute: JsonNode,
      elementMeta: Map[String, String],
      dicts: DictionaryLookup,
  ): Option[Map[String, String]] = {
    // attribute_names filters on the path after the element part
    // (pi_asset_framework.py:414)
    val attrPath = attribute.path("Path").asText().split("\\|", 2)
    val pathName = if (attrPath.length > 1) attrPath(1) else attribute.path("Name").asText()
    if (cfg.attributeNames.exists(names => !names.contains(pathName))) return None
    // only allowed data references surface (:428)
    val plugin = attribute.path("DataReferencePlugIn").asText("")
    if (!cfg.allowedDataReferences.contains(plugin)) return None

    val attrName = if (cfg.useAttributePath) pathName else attribute.path("Name").asText()
    val naming: Map[String, String] =
      if (cfg.attributesAsFields)
        Map("series name" -> element.path("Name").asText(), "field" -> attrName)
      else
        Map("series name" -> attrName, "element" -> element.path("Name").asText(), "field" -> "value")

    metadataFields(attribute, dicts).map { meta =>
      val description =
        if (meta.getOrElse("description", "").isEmpty) element.path("Description").asText("")
        else meta("description")
      naming ++ meta ++ elementMeta +
        ("__id__" -> attribute.path("WebId").asText()) +
        ("description" -> description)
    }
  }

  /** The reference's `_get_metadata` (:889): None for unknown types. */
  private def metadataFields(attribute: JsonNode, dicts: DictionaryLookup): Option[Map[String, String]] = {
    val attrType = attribute.path("Type").asText()
    AttributeTypes.get(attrType).map { dataType =>
      val base = Map(
        "description" -> attribute.path("Description").asText(""),
        "unit" -> attribute.path("DefaultUnitsNameAbbreviation").asText(""),
        "interpolation_type" -> (if (attribute.path("Step").asBoolean()) "STEPPED" else "LINEAR"),
        "data_type" -> dataType,
        "Path" -> attribute.path("Path").asText(),
      )
      val zero = attribute.path("Zero")
      val limits =
        if (zero.isNull || zero.isMissingNode) Map.empty[String, String]
        else {
          val span = attribute.path("Span")
          Map("limit_low_functional" -> zero.asDouble().toString) ++
            (if (span.isNull || span.isMissingNode) Map.empty[String, String]
             else Map("limit_high_functional" -> (zero.asDouble() + span.asDouble()).toString))
        }
      val cats = attribute.path("CategoryNames").elements().asScala.map(_.asText()).toSeq
      val catMeta = if (cats.nonEmpty) Map("Attribute category" -> cats.mkString(";")) else Map.empty
      val dict =
        if (attrType == "EnumerationValue") {
          val name = attribute.path("TypeQualifier").asText("")
          Map("dictionary_name" -> name) ++
            dicts.get(name, attribute).map(m => "dictionary" -> renderDictionary(m))
        } else Map.empty
      base ++ limits ++ catMeta ++ dict
    }
  }

  // ------------------------------------------------------- category mode

  private def searchCategory(): Seq[Map[String, String]] = {
    // the reference rejects category search under an element root (:451)
    require(cfg.rootId.isEmpty, "Cannot search attributes with element root")
    val category = cfg.attributeCategory.get
    val u = urls(cfg)
    val dicts = new DictionaryLookup(cfg)
    val out = Seq.newBuilder[Map[String, String]]
    var startIndex = 0
    var done = false
    while (!done) {
      val attributeParams = Seq(
        "databaseWebId" -> u.databaseId,
        "query" -> s"""Element:{ Name:=* } category:"$category"""",
        "searchFullHierarchy" -> "true",
        "selectedFields" -> Seq(
          "Items.WebId", "Items.Name", "Items.Description", "Items.Path", "Items.CategoryNames",
          "Items.DataReferencePlugin", "Items.Type", "Items.TypeQualifier",
          "Items.DefaultUnitsNameAbbreviation", "Items.Step", "Items.Span", "Items.Zero",
          "Items.Links.EnumerationValues", "Items.Links.Element",
        ).mkString(";"),
        "maxCount" -> cfg.maxReturnedMetadataItemsPerCall.toString,
        "startIndex" -> startIndex.toString,
        "webIdType" -> cfg.webIdType,
      )
      val elementParams = Seq(
        "selectedFields" -> Seq("Name", "WebId", "Description", "TemplateName", "CategoryNames").mkString(";"),
        "webIdType" -> cfg.webIdType,
      ) ++ cfg.elementCategory.map("categoryName" -> _)
      val batch =
        s"""{"GetAttributes":{"Method":"GET","Resource":${js(addParams(u.root(Seq("attributes", "search")), attributeParams))}},""" +
          s""""GetElement":{"Method":"GET","RequestTemplate":{"Resource":${js("{0}?" + encode(elementParams))}},""" +
          s""""Parameters":["$$.GetAttributes.Content.Items[*].Links.Element"],"ParentIds":["GetAttributes"]}}"""
      validateBatch(post(cfg, u.root(Seq("batch")), batch)) match {
        case None => done = true
        case Some(result) =>
          val elementItems = result.path("GetElement").path("Content").path("Items")
          val attributeItems = result.path("GetAttributes").path("Content").path("Items")
          (0 until elementItems.size()).foreach { i =>
            val element = elementItems.get(i).path("Content")
            val attribute = attributeItems.get(i)
            val templateName = element.path("TemplateName").asText("")
            val elementMeta = (if (templateName.nonEmpty) Map(templateName -> element.path("Name").asText())
                               else Map.empty[String, String]) ++ {
              val cats = element.path("CategoryNames").elements().asScala.map(_.asText()).toSeq
              if (cats.nonEmpty) Map("Element category" -> cats.mkString(";")) else Map.empty
            }
            out ++= attributeRow(element, attribute, elementMeta, dicts)
          }
          val attributeCount = attributeItems.size()
          if (attributeCount != cfg.maxReturnedMetadataItemsPerCall) done = true
          else startIndex += attributeCount
      }
    }
    out.result()
  }

  // ------------------------------------------------------------ plumbing

  /** `validate_batch_response` (:847): collect per-request errors, map
    * the empty-parent-list 400 to None (end of pagination).
    */
  private def validateBatch(result: JsonNode): Option[JsonNode] = {
    val errors = Seq.newBuilder[String]
    var emptyParents = false
    result.fields().asScala.foreach { e =>
      val status = e.getValue.path("Status").asInt()
      if (status == 207) {
        e.getValue.path("Content").path("Items").elements().asScala.foreach { item =>
          if (item.path("Status").asInt() >= 400)
            errors += s"${e.getKey}: ${extractError(item)}"
        }
      } else if (status >= 400) {
        val msg = extractError(e.getValue)
        if (msg.contains("Some JSON paths did not select any tokens")) emptyParents = true
        else errors += s"${e.getKey}: $msg"
      }
    }
    val errs = errors.result()
    if (errs.nonEmpty) throw new IllegalStateException(s"batch request failed: ${errs.mkString(";")}")
    if (emptyParents) None else Some(result)
  }

  private def extractError(item: JsonNode): String = {
    val content = item.path("Content")
    if (content.isTextual) content.asText()
    else if (content.has("Errors"))
      content.path("Errors").elements().asScala.map(_.asText()).mkString(";")
    else content.toString
  }

  /** `_verify_element_in_database` (:820): an element root must live in
    * the configured database.
    */
  private def verifyElementInDatabase(url: String): Unit = {
    val data = PiWebApiSource.get(cfg.metadataConfig, url, Map("selectedFields" -> "Links.Database"))
    val database = data.path("Links").path("Database").asText()
    if (database != cfg.databaseUri)
      throw new IllegalStateException(
        s"element $url (database: $database) is not in configured database"
      )
  }

  /** Enumeration-set lookup, cached per set name (`_DictionaryLookup`,
    * :938).
    */
  private class DictionaryLookup(cfg: PiAfConfig) {
    private val cache = scala.collection.mutable.Map.empty[String, Map[Int, String]]

    def get(name: String, attribute: JsonNode): Option[Map[Int, String]] =
      cache.get(name).orElse {
        // only SUCCESSFUL fetches cache (the reference's lookup,
        // pi_asset_framework.py:946): an attribute without the
        // EnumerationValues link must not poison the set name for a
        // later attribute that carries it
        val link = attribute.path("Links").path("EnumerationValues")
        if (link.isMissingNode || link.isNull) None
        else {
          val result = PiWebApiSource.get(
            cfg.metadataConfig,
            link.asText(),
            Map("selectedFields" -> "Items.Name;Items.Value"),
          )
          val mapping = result.path("Items").elements().asScala.map { item =>
            item.path("Value").asInt() -> item.path("Name").asText()
          }.toMap
          cache(name) = mapping
          Some(mapping)
        }
      }
  }
}

object PiAfSource {

  /** AF attribute type → kukur DataType (pi_asset_framework.py:905,
    * per the PI Web API supported-attribute-data-types table); absent
    * types make the attribute invisible.
    */
  private val AttributeTypes = Map(
    "Boolean" -> "CATEGORICAL",
    "Single" -> "FLOAT32",
    "Double" -> "FLOAT64",
    "Int16" -> "FLOAT32",
    "Int32" -> "FLOAT64",
    "Int64" -> "FLOAT64",
    "String" -> "STRING",
    "EnumerationValue" -> "DICTIONARY",
  )

  /** Stable text rendering of an enumeration mapping. */
  private def renderDictionary(m: Map[Int, String]): String =
    m.toSeq.sortBy(_._1).map { case (v, n) => s"$v=$n" }.mkString(";")

  /** `DatabaseURLBuilder` (:226): `root` resolves against the web API
    * root (the database URI minus its last two path segments),
    * `database` against the database resource itself.
    */
  private[sources] final class UrlBuilder(databaseUri: String) {
    private val uri = java.net.URI.create(databaseUri)
    private val segments = Option(uri.getPath).getOrElse("").split("/").filter(_.nonEmpty).toSeq

    private def withPath(segs: Seq[String]): String = {
      val path = if (segs.isEmpty) "" else segs.mkString("/", "/", "")
      s"${uri.getScheme}://${uri.getAuthority}$path"
    }

    def root(segs: Seq[String]): String = withPath(segments.dropRight(2) ++ segs)
    def database(segs: Seq[String]): String = withPath(segments ++ segs)
    def databaseId: String = segments.lastOption.getOrElse("")
  }

  private def urls(cfg: PiAfConfig): UrlBuilder = new UrlBuilder(cfg.databaseUri)

  private def js(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)

  private def encode(params: Seq[(String, String)]): String =
    params.map { case (k, v) =>
      s"${java.net.URLEncoder.encode(k, "UTF-8")}=${java.net.URLEncoder.encode(v, "UTF-8")}"
    }.mkString("&")

  private def addParams(url: String, params: Seq[(String, String)]): String = {
    val sep = if (url.contains('?')) "&" else "?"
    s"$url$sep${encode(params)}"
  }

  /** One batch POST (the reference's `session.post(batch_url, json=…)`)
    * — the DA source's request plumbing, with a JSON body.
    */
  private def post(cfg: PiAfConfig, url: String, body: String): JsonNode =
    PiWebApiSource.sendJson(
      PiWebApiSource
        .requestBuilder(cfg.metadataConfig, url)
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)),
      url,
    )
}
