package graft

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.sources.{InfluxConfig, InfluxSource, SeriesKey}

/** InfluxDB source against an in-process stub speaking the InfluxDB
  * 1.x HTTP wire protocol (`GET /query` with `db`/`q`/`params`/`u`/`p`
  * query args, JSON results) — the same role the reference's
  * `plugin.py` executable plays for PluginSource: the protocol surface
  * is real, only the server is canned. The reference can only test its
  * influx source against a dockerized server
  * (tests/test_data/docker-compose-influxdb.yml); this spec pins the
  * exact queries kukur issues (influxdb.py:95-180) and the response
  * decoding, offline.
  */
class InfluxSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var port: Int = _
  @volatile private var lastQuery: String = ""
  @volatile private var sawAuth: Option[(String, String)] = None

  // canned measurement: h2o_feet, tag location, field water_level
  private val Points = Map(
    "coyote_creek" -> Seq(
      ("2020-01-01T00:00:00Z", 8.12),
      ("2020-01-01T00:06:00Z", 8.005),
      ("2020-01-01T00:12:00Z", 7.887),
    ),
    "santa_monica" -> Seq(
      ("2020-01-01T00:00:00Z", 2.064),
      ("2020-01-01T00:06:00Z", 2.116),
    ),
  )

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/query", (ex: HttpExchange) => handle(ex))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = {
    server.stop(0)
    super.afterAll()
  }

  private def args(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap

  private def respond(ex: HttpExchange, body: String, code: Int = 200): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseBody(code, bytes)
  }

  private implicit class ExOps(ex: HttpExchange) {
    def sendResponseBody(code: Int, bytes: Array[Byte]): Unit = {
      ex.sendResponseHeaders(code, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    }
  }

  private def series(name: String, columns: Seq[String], values: Seq[Seq[Any]]): String = {
    val cols = columns.map(c => mapper.writeValueAsString(c)).mkString("[", ",", "]")
    val vals = values
      .map(_.map {
        case s: String => mapper.writeValueAsString(s)
        case d: Double => d.toString
        case other     => other.toString
      }.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""{"name":${mapper.writeValueAsString(name)},"columns":$cols,"values":$vals}"""
  }

  private def ok(seriesJson: String*): String =
    s"""{"results":[{"statement_id":0,"series":[${seriesJson.mkString(",")}]}]}"""

  private def handle(ex: HttpExchange): Unit = {
    val a = args(ex)
    val q = a.getOrElse("q", "")
    lastQuery = q
    sawAuth = for { u <- a.get("u"); p <- a.get("p") } yield (u, p)
    if (a.get("db").contains("needs_auth") && !sawAuth.contains(("reader", "secret"))) {
      respond(ex, """{"error":"authorization failed"}""", code = 401)
      return
    }
    val params: Map[String, String] = a.get("params") match {
      case Some(j) =>
        val n = mapper.readTree(j)
        scala.jdk.CollectionConverters.IteratorHasAsScala(n.fieldNames()).asScala.map(f => f -> n.get(f).asText()).toMap
      case None => Map.empty
    }
    val body =
      if (q.startsWith("SHOW SERIES")) {
        val keys =
          if (q.contains("WHERE") && q.contains("location"))
            Points.keys.filter(l => q.contains(s"'$l'")).map(l => s"h2o_feet,location=$l").toSeq
          else Points.keys.map(l => s"h2o_feet,location=$l").toSeq
        ok(series("h2o_feet", Seq("key"), keys.sorted.map(Seq(_))))
      } else if (q.startsWith("SHOW FIELD KEYS"))
        ok(series("h2o_feet", Seq("fieldKey", "fieldType"), Seq(Seq("water_level", "float"))))
      else if (q.startsWith("SHOW TAG KEYS"))
        ok(series("h2o_feet", Seq("tagKey"), Seq(Seq("location"))))
      else if (q.startsWith("SHOW TAG VALUES"))
        ok(series("h2o_feet", Seq("key", "value"), Points.keys.toSeq.sorted.map(l => Seq("location", l))))
      else if (q.startsWith("SELECT")) {
        // the exact reference query shape: bound range + bound tags
        assert(q.contains("time >= $start_date") && q.contains("time <= $end_date"), q)
        val loc = params.get("0")
        val start = Instant.parse(params("start_date"))
        val end = Instant.parse(params("end_date"))
        val pts = loc.map(l => Points.getOrElse(l, Nil)).getOrElse(Points.values.flatten.toSeq)
        val kept = pts.filter { case (t, _) =>
          val i = Instant.parse(t)
          !i.isBefore(start) && !i.isAfter(end)
        }
        ok(series("h2o_feet", Seq("time", "water_level"), kept.map { case (t, v) => Seq(t, v) }))
      } else s"""{"results":[{"statement_id":0,"error":"unhandled: $q"}]}"""
    respond(ex, body)
  }

  private def cfg = InfluxConfig(database = "NOAA_water_database", host = "127.0.0.1", port = port)
  private def source = new InfluxSource(cfg)

  private val Start = Timestamp.from(Instant.parse("2020-01-01T00:00:00Z"))
  private val End = Timestamp.from(Instant.parse("2020-01-01T01:00:00Z"))

  private def sel(loc: String) =
    SeriesSelector("", Map(SeriesSelector.SeriesNameTag -> "h2o_feet", "location" -> loc), "water_level")

  test("search: SHOW SERIES x SHOW FIELD KEYS, selector measurement/tags filter") {
    val all = source.search(spark).collect()
    assert(all.length == 2)
    assert(all.map(_.getAs[String]("location")).sorted.toSeq == Seq("coyote_creek", "santa_monica"))
    assert(all.forall(_.getAs[String]("field") == "water_level"))
    assert(all.forall(_.getAs[String](SeriesSelector.SeriesNameTag) == "h2o_feet"))
    val one = source.search(spark, sel("coyote_creek")).collect()
    assert(one.length == 1 && one.head.getAs[String]("location") == "coyote_creek")
    assert(lastQuery.startsWith("SHOW FIELD KEYS") || lastQuery.startsWith("SHOW SERIES"))
  }

  test("get_data: bound params, inclusive end, tag filter — the reference's query") {
    val rows = source.getData(spark, sel("coyote_creek"), Start, End).orderBy("ts").collect()
    assert(rows.length == 3)
    assert(rows.head.getAs[Timestamp]("ts").toInstant == Start.toInstant)
    assert(rows.head.getAs[Double]("value") == 8.12)
    assert(lastQuery.contains("""SELECT time, "water_level" FROM "h2o_feet""""))
    assert(lastQuery.contains("""and "location" = $"""))
    // inclusive end: a range that lands ON a point keeps it
    val endOn = Timestamp.from(Instant.parse("2020-01-01T00:06:00Z"))
    assert(source.getData(spark, sel("coyote_creek"), Start, endOn).count() == 2L)
  }

  test("dataForKeys: one HTTP query per series from executor tasks") {
    val keys = Seq(
      SeriesKey(Map(SeriesSelector.SeriesNameTag -> "h2o_feet", "location" -> "coyote_creek"), "water_level"),
      SeriesKey(Map(SeriesSelector.SeriesNameTag -> "h2o_feet", "location" -> "santa_monica"), "water_level"),
    )
    val df = new InfluxSource(cfg).dataForKeys(spark, keys, Start, End)
    assert(df.count() == 5L)
    assert(df.select("series_name").distinct().count() == 1L) // both keys share the measurement name
  }

  test("source structure: tag keys, fields, tag values") {
    val rows = source.sourceStructure(spark).collect()
    assert(rows.exists(r => r.getString(0) == "field" && r.getString(1) == "water_level"))
    assert(rows.exists(r => r.getString(0) == "tag_key" && r.getString(1) == "location"))
    assert(rows.exists(r => r.getString(0) == "tag_value" && r.getString(2) == "santa_monica"))
  }

  test("credentials ride as u/p; missing auth surfaces the 401") {
    val authed = new InfluxSource(
      InfluxConfig("needs_auth", "127.0.0.1", port, username = Some("reader"), password = Some("secret"))
    )
    assert(authed.search(spark).count() == 2L)
    assert(sawAuth.contains(("reader", "secret")))
    val anon = new InfluxSource(InfluxConfig("needs_auth", "127.0.0.1", port))
    val e = intercept[IllegalArgumentException](anon.search(spark).collect())
    assert(e.getMessage.contains("401"))
  }

  test("fromConfig: type = influxdb registers with kukur's config vocabulary") {
    val dir = java.nio.file.Files.createTempDirectory("graft-influx-cfg")
    java.nio.file.Files.writeString(
      dir.resolve("graft.toml"),
      s"""[source.noaa-local]
         |type = "influxdb"
         |database = "NOAA_water_database"
         |host = "127.0.0.1"
         |port = $port
         |""".stripMargin,
    )
    val g = Graft.fromConfig(spark, dir.resolve("graft.toml").toString)
    assert(g.listSources.contains("noaa-local"))
    assert(g.search("noaa-local").count() == 2L)
    val data = g.getData("noaa-local", sel("santa_monica"), Start, End).orderBy("ts").collect()
    assert(data.length == 2 && data.head.getAs[Double]("value") == 2.064)
    // metadata is always empty for influx (influxdb.py:119) — tags only
    assert(g.getMetadata("noaa-local", sel("santa_monica")).count() == 2L)
    assert(g.getSourceStructure("noaa-local").count() >= 4L)
    // plot falls back to bucketing the fetched range
    assert(g.getPlotData("noaa-local", sel("santa_monica"), Start, End, 10).count() >= 1L)
  }

  test("metadata_sources extras layer over influx, like kukur's factory wrapper") {
    // the reference's own influx fixture shape: metadata_sources =
    // ["noaa"] pointing at its noaa-metadata.csv (tests/test_data/
    // influxdb/influx-examples.toml + noaa-metadata.csv)
    val dir = java.nio.file.Files.createTempDirectory("graft-influx-md")
    java.nio.file.Files.writeString(
      dir.resolve("noaa-metadata.csv"),
      """series name,location,field,functional lower limit,functional upper limit
        |h2o_feet,coyote_creek,water_level,6,9
        |h2o_feet,santa_monica,water_level,1,4
        |""".stripMargin,
    )
    java.nio.file.Files.writeString(
      dir.resolve("graft.toml"),
      s"""[source.noaa]
         |type = "influxdb"
         |database = "NOAA_water_database"
         |host = "127.0.0.1"
         |port = $port
         |metadata_sources = ["noaa"]
         |
         |[metadata.noaa]
         |type = "csv"
         |metadata = "noaa-metadata.csv"
         |tag_columns = ["series name", "location"]
         |""".stripMargin,
    )
    val g = Graft.fromConfig(spark, dir.resolve("graft.toml").toString)
    val md = g.getMetadata("noaa", sel("coyote_creek")).collect()
    assert(md.length == 1)
    // spaced kukur headers normalize to the canonical field vocabulary
    assert(md.head.getAs[Double]("limit_low_functional") == 6.0)
    assert(md.head.getAs[Double]("limit_high_functional") == 9.0)
    // data still answers from the server
    assert(g.getData("noaa", sel("coyote_creek"), Start, End).count() == 3L)
  }

  test("two metadata_sources keyed on (series name, location) merge per location") {
    val dir = java.nio.file.Files.createTempDirectory("graft-influx-md2")
    // the higher-precedence extra leaves coyote_creek's lower limit
    // empty: it must fall through to coyote_creek's row of the second
    // extra, never to santa_monica's
    java.nio.file.Files.writeString(
      dir.resolve("noaa-units.csv"),
      """series name,location,unit,functional lower limit
        |h2o_feet,coyote_creek,feet,
        |h2o_feet,santa_monica,feet,0.5
        |""".stripMargin,
    )
    java.nio.file.Files.writeString(
      dir.resolve("noaa-limits.csv"),
      """series name,location,functional lower limit,functional upper limit
        |h2o_feet,coyote_creek,6,9
        |h2o_feet,santa_monica,1,4
        |""".stripMargin,
    )
    java.nio.file.Files.writeString(
      dir.resolve("graft.toml"),
      s"""[source.noaa]
         |type = "influxdb"
         |database = "NOAA_water_database"
         |host = "127.0.0.1"
         |port = $port
         |metadata_sources = ["units", "limits"]
         |
         |[metadata.units]
         |type = "csv"
         |metadata = "noaa-units.csv"
         |tag_columns = ["series name", "location"]
         |
         |[metadata.limits]
         |type = "csv"
         |metadata = "noaa-limits.csv"
         |tag_columns = ["series name", "location"]
         |""".stripMargin,
    )
    val g = Graft.fromConfig(spark, dir.resolve("graft.toml").toString)
    val md = g.getMetadata("noaa", sel("coyote_creek")).collect()
    assert(md.length == 1, md.mkString("; "))
    assert(md.head.getAs[String]("location") == "coyote_creek")
    assert(md.head.getAs[String]("unit") == "feet")
    assert(md.head.getAs[Double]("limit_low_functional") == 6.0)
    assert(md.head.getAs[Double]("limit_high_functional") == 9.0)
  }

  test("testSource probes influx with its own `series name` tag") {
    val dir = java.nio.file.Files.createTempDirectory("graft-influx-probe")
    java.nio.file.Files.writeString(
      dir.resolve("graft.toml"),
      s"""[source.noaa]
         |type = "influxdb"
         |database = "NOAA_water_database"
         |host = "127.0.0.1"
         |port = $port
         |""".stripMargin,
    )
    val g = Graft.fromConfig(spark, dir.resolve("graft.toml").toString)
    val out = g
      .testSource("noaa", Start, End)
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2), Option(r.getString(3)))))
      .toMap
    assert(out("search") == ((true, 2L, None)))
    // the probe keys the first search row's series by its measurement
    // and the tag keys SHOW SERIES named (h2o_feet, coyote_creek), so
    // metadata echoes both tags and data reads that one location's 3
    // points, not santa_monica's 2 beside them
    assert(out("metadata") == ((true, 2L, None)))
    assert(out("data") == ((true, 3L, None)))
    assert(out("plot")._1 && out("plot")._2 > 0L, out("plot"))
  }
}
