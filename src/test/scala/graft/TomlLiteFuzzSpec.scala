package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TomlLite

/** TomlLite hardening beyond the config-registry cases: (1) the
  * reference's ENTIRE shipped .toml corpus parses (every file under
  * /root/reference, including both pyproject.toml files — richer TOML
  * than the source configs), with value spot-checks against known
  * fixture content; (2) seeded-random fuzz — random document trees
  * rendered through randomly chosen TOML spellings (basic/literal/
  * multiline strings, escapes incl. \uXXXX, bare/quoted/dotted keys,
  * inline vs header tables, arrays of tables) must parse back to
  * exactly the generated tree. A regressed-looking edit to the string
  * or header machinery breaks this spec before it breaks a config.
  */
class TomlLiteFuzzSpec extends AnyFunSuite {

  private val nf = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()

  // ---- reference corpus ----

  test("every .toml the reference ships parses") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files
      .walk(java.nio.file.Paths.get(ReferenceCheckout.root))
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".toml"))
      .toSeq
    assert(files.size >= 20, s"expected the full corpus, found ${files.size}")
    files.foreach { f =>
      val text = java.nio.file.Files.readString(f)
      val parsed = TomlLite.parse(text)
      assert(parsed != null, s"null parse for $f")
      // tests/pyproject.toml is all comments — {} is its correct parse
      val hasContent = text.linesIterator.map(_.trim).exists(l => l.nonEmpty && !l.startsWith("#"))
      assert(parsed.size() > 0 == hasContent, s"unexpected parse size for $f")
    }
  }

  test("corpus spot checks: known values from distinct fixture families") {
    def parse(p: String) = TomlLite.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    val root = ReferenceCheckout.root
    // Kukur.toml: include globs + flags
    val kukur = parse(s"$root/Kukur.toml")
    assert(kukur.path("include").get(0).path("glob").asText().nonEmpty)
    // tdengine: triple-quoted SQL keeps its pipes-free body intact
    val td = parse(s"$root/tests/test_data/tdengine/tdengine.toml")
    assert(td.path("source").path("tdengine").path("list_query").asText().trim ==
      "show table tags from data from kukur")
    assert(td.path("source").path("tdengine").path("tag_columns").get(1).asText() == "location")
    // datafusion: [[source.x.table]] arrays of tables
    val dfu = parse(s"$root/tests/test_data/datafusion/datafusion.toml")
    val src = dfu.path("source")
    val withTables = {
      import scala.jdk.CollectionConverters._
      src.fields().asScala.map(_.getValue).find(_.path("table").isArray)
    }
    assert(withTables.nonEmpty, "no datafusion source with [[table]] entries parsed")
    assert(withTables.get.path("table").get(0).path("type").asText().nonEmpty)
    // pyproject.toml: inline tables and nested arrays far beyond the
    // source-config vocabulary
    val pyproject = parse(s"$root/pyproject.toml")
    assert(pyproject.path("project").path("name").asText() == "kukur")
    assert(pyproject.path("project").path("dependencies").isArray)
  }

  // ---- seeded-random fuzz ----

  private final class Gen(seed: Long) {
    val rnd = new scala.util.Random(seed)
    // characters that stress escaping: quotes, backslash, hash (comment
    // marker), brackets/braces/comma/equals (syntax chars), controls,
    // unicode incl. an astral pair handled as two \u escapes by TOML
    private val chars =
      "abcXYZ019 _-" + "\"'\\#[]{},=." + "\t" + "é中ß"
    def str(maxLen: Int = 12): String = {
      val n = rnd.nextInt(maxLen + 1)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        val c = chars.charAt(rnd.nextInt(chars.length))
        sb += c
      }
      // occasionally embed a newline (only multiline spellings keep it)
      if (rnd.nextInt(6) == 0) sb += '\n'
      sb.result()
    }
    def bareKey(): String = {
      val n = 1 + rnd.nextInt(8)
      (0 until n).map(_ => "abcdefgh01_-".charAt(rnd.nextInt(12))).mkString
    }
  }

  /** Render a string value in a randomly chosen legal TOML spelling. */
  private def renderString(s: String, g: Gen): String = {
    val canLiteral = !s.contains('\'') && !s.contains('\n') && !s.contains('\r') && !s.exists(_ < ' ')
    val canMultiLiteral = !s.contains("'''") && !s.contains('\r') &&
      !s.exists(c => c < ' ' && c != '\n') && !s.startsWith("\n") && !s.endsWith("'")
    g.rnd.nextInt(4) match {
      case 0 if canLiteral => s"'$s'"
      case 1 if canMultiLiteral => s"'''$s'''"
      case 2 => // multiline basic: escape quotes/backslash, keep raw \n
        val body = s.zipWithIndex.flatMap {
          case ('"', _) => "\\\""
          case ('\\', _) => "\\\\"
          case ('\t', _) => "\\t"
          case ('\r', _) => "\\r"
          // a raw newline right after the opener would be TRIMMED per
          // the TOML spec — escape a leading one
          case ('\n', 0) => "\\n"
          case (c, _) if c < ' ' && c != '\n' => f"\\u${c.toInt}%04x"
          case (c, _) => c.toString
        }.mkString
        "\"\"\"" + body + "\"\"\""
      case _ => // single-line basic with full escaping
        val body = s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          // exercise \u escapes for some non-ASCII too
          case c if c > 127 && g.rnd.nextBoolean() => f"\\u${c.toInt}%04x"
          case c => c.toString
        }
        "\"" + body + "\""
    }
  }

  private def renderKey(k: String, g: Gen): String =
    if (k.forall(c => c.isLetterOrDigit || c == '_' || c == '-') && k.nonEmpty && g.rnd.nextBoolean()) k
    else "\"" + k.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""

  /** Generate a random scalar/array/inline value with its expected node. */
  private def genValue(g: Gen, depth: Int): (com.fasterxml.jackson.databind.JsonNode, String) =
    g.rnd.nextInt(if (depth > 1) 4 else 6) match {
      case 0 =>
        val s = g.str()
        (nf.textNode(s), renderString(s, g))
      case 1 =>
        val v = g.rnd.nextLong() % 1000000
        val spelled = if (g.rnd.nextBoolean() && math.abs(v) >= 1000) {
          // underscore separators
          val digits = math.abs(v).toString.reverse.grouped(3).mkString("_").reverse
          (if (v < 0) "-" else "") + digits
        } else v.toString
        (nf.numberNode(v), spelled)
      case 2 =>
        val d = math.floor(g.rnd.nextDouble() * 1e6) / 1e3
        (nf.numberNode(d), d.toString)
      case 3 =>
        val b = g.rnd.nextBoolean()
        (nf.booleanNode(b), b.toString)
      case 4 =>
        val n = g.rnd.nextInt(4)
        val arr = nf.arrayNode()
        val parts = (0 until n).map { _ =>
          val (node, text) = genValue(g, depth + 1)
          arr.add(node)
          text
        }
        // arrays may span lines with comments between elements
        val sep = if (g.rnd.nextBoolean()) ", " else ",\n  "
        (arr, parts.mkString("[", sep, "]"))
      case _ =>
        val n = g.rnd.nextInt(3)
        val obj = nf.objectNode()
        val parts = (0 until n).flatMap { _ =>
          val k = g.bareKey()
          if (obj.has(k)) None
          else {
            val (node, text) = genValue(g, depth + 1)
            obj.set[com.fasterxml.jackson.databind.JsonNode](k, node)
            Some(s"${renderKey(k, g)} = $text")
          }
        }
        (obj, parts.mkString("{", ", ", "}"))
    }

  /** Generate a whole document: root key-values, [a.b] header tables,
    * and [[arr]] arrays of tables, mirrored into an expected tree.
    */
  private def genDocument(seed: Long): (ObjectNode, String) = {
    val g = new Gen(seed)
    val expected = nf.objectNode()
    val sb = new StringBuilder

    def fillTable(target: ObjectNode, nKeys: Int): Unit =
      (0 until nKeys).foreach { _ =>
        val k = g.bareKey()
        if (!target.has(k)) {
          val (node, text) = genValue(g, 0)
          target.set[com.fasterxml.jackson.databind.JsonNode](k, node)
          sb.append(s"${renderKey(k, g)} = $text")
          if (g.rnd.nextBoolean()) sb.append("  # trailing comment \"quoted\"")
          sb.append("\n")
        }
      }

    fillTable(expected, g.rnd.nextInt(4))
    // header tables, possibly nested two deep
    (0 until g.rnd.nextInt(4)).foreach { _ =>
      val k1 = g.bareKey()
      if (!expected.has(k1)) {
        if (g.rnd.nextBoolean()) {
          val t = expected.putObject(k1)
          sb.append(s"\n[$k1]\n")
          fillTable(t, 1 + g.rnd.nextInt(3))
          val k2 = g.bareKey()
          if (!t.has(k2)) {
            val t2 = t.putObject(k2)
            sb.append(s"\n[$k1.$k2]\n")
            fillTable(t2, 1 + g.rnd.nextInt(2))
          }
        } else {
          // array of tables
          val arr = expected.putArray(k1)
          (0 until 1 + g.rnd.nextInt(3)).foreach { _ =>
            val el = arr.addObject()
            sb.append(s"\n[[$k1]]\n")
            fillTable(el, 1 + g.rnd.nextInt(3))
          }
        }
      }
    }
    (expected, sb.result())
  }

  test("fuzz: 300 random documents parse back to exactly the generated tree") {
    (0 until 300).foreach { seed =>
      val (expected, toml) = genDocument(seed.toLong)
      val parsed =
        try TomlLite.parse(toml)
        catch {
          case e: Exception =>
            fail(s"seed $seed failed to parse: ${e.getMessage}\n--- toml ---\n$toml")
        }
      assert(
        parsed == expected,
        s"seed $seed mismatch\n--- toml ---\n$toml\n--- expected ---\n$expected\n--- parsed ---\n$parsed",
      )
    }
  }

  test("targeted string edges: adjacent quotes at a multiline close, escaped unicode, line-ending backslash") {
    // a multiline basic body ending in one quote: `""""` closes it
    assert(TomlLite.parse("k = \"\"\"ends with \"\"\"\"").path("k").asText() == "ends with \"")
    // two quotes adjacent to the closing triple
    assert(TomlLite.parse("k = \"\"\"q: \"\"\"\"\"").path("k").asText() == "q: \"\"")
    // \uXXXX escapes in single-line and multiline spellings agree
    assert(TomlLite.parse("k = \"caf\\u00e9\"").path("k").asText() == "café")
    assert(TomlLite.parse("k = \"\"\"caf\\u00e9\"\"\"").path("k").asText() == "café")
    // line-ending backslash swallows whitespace through the newline
    assert(TomlLite.parse("k = \"\"\"a \\\n   b\"\"\"").path("k").asText() == "a b")
    // literal strings keep backslashes verbatim
    assert(TomlLite.parse("""k = 'C:\nope\u0041'""").path("k").asText() == """C:\nope\u0041""")
  }
}
