package graft.core

import java.nio.file.{Files, Path, Paths}

/** Config model + loader, mirroring the reference
  * (/root/reference/packages/cryoflow-core/cryoflow_core/config.py).
  *
  * A pipeline config declares three ordered plugin lists
  * (config.py:24-29); each entry has `module` (required), `enabled`
  * (default true), `label` (default "default") and a free-form
  * `options` table (config.py:14-21).
  *
  * The config surface stays TOML for parity with the reference's
  * examples (examples/config.toml). The offline environment forbids new
  * dependencies, so `Toml` below is a minimal hand-rolled parser
  * covering the constructs the reference's `tomllib` accepts in real
  * configs — array-of-tables `[[x]]`, nested tables `[x.options]`,
  * scalar values, single- and multi-line arrays, inline tables.
  *
  * `name` is left defaultable on the case class for programmatic
  * construction convenience, but [[Config.loadConfig]] REQUIRES it in
  * the TOML (pydantic `name: str` has no default — config.py:14-21),
  * as it requires all three plugin-list keys (config.py:24-29).
  */
final case class PluginConfig(
    module: String,
    enabled: Boolean = true,
    label: String = "default",
    options: Map[String, Any] = Map.empty,
    name: String = "")

final case class GraftConfig(
    inputPlugins: Seq[PluginConfig] = Seq.empty,
    transformPlugins: Seq[PluginConfig] = Seq.empty,
    outputPlugins: Seq[PluginConfig] = Seq.empty,
    // Engine options beyond the reference's surface (an optional
    // `[pipeline]` table; absent in every reference config, so parity
    // configs parse unchanged). Known keys: persist_multi_output
    // (default TRUE since round 10 — see docs/PLUGINS.md).
    pipelineOptions: Map[String, Any] = Map.empty) {
  /** `[pipeline] persist_multi_output`, on unless set false
    * ([[Config.loadConfig]] has checked that it is a boolean). */
  def persistMultiOutput: Boolean =
    pipelineOptions.get("persist_multi_output")
      .flatMap(OptionKind.boolean.parse).getOrElse(true)
}

object Config {

  /** A19 — config path default (config.py:46-54): explicit path wins,
    * else `$XDG_CONFIG_HOME/graft/config.toml` with the standard
    * `~/.config` fallback. */
  def getConfigPath(explicit: Option[Path]): Path =
    explicit.getOrElse {
      val xdg = sys.env.getOrElse("XDG_CONFIG_HOME",
        sys.props("user.home") + "/.config")
      Paths.get(xdg, "graft", "config.toml")
    }

  /** A18 — staged Result chain: exists → read → parse → validate, each
    * stage wrapping its failure with a distinct message prefix
    * (config.py:102-126). */
  def loadConfig(path: Path): Either[Throwable, GraftConfig] =
    for {
      p <- if (Files.exists(path)) Right(path)
           else Left(new ConfigLoadError(s"Config file not found: $path"))
      text <- Errors.safe(Files.readString(p)).left.map(e =>
        new ConfigLoadError(s"Failed to read config file: ${e.getMessage}", e))
      tree <- Toml.parse(text).left.map(e =>
        new ConfigLoadError(s"Failed to parse TOML config: ${e.getMessage}", e))
      cfg <- validate(tree).left.map(e =>
        new ConfigLoadError(s"Config validation failed: ${e.getMessage}", e))
    } yield cfg

  /** Mirrors the pydantic models (config.py:14-29): `name` and
    * `module` are required per entry, the three plugin-list keys are
    * required at top level; error text follows pydantic's
    * "<loc>: Field required" shape. */
  private def validate(tree: Map[String, Any]): Either[Throwable, GraftConfig] =
    Errors.safe {
      def pluginList(key: String): Seq[PluginConfig] =
        tree.get(key) match {
          case None =>
            throw new ConfigLoadError(s"$key: Field required")
          case Some(xs: Seq[_]) =>
            xs.zipWithIndex.map {
              case (m: Map[_, _], idx) =>
                val entry = m.asInstanceOf[Map[String, Any]]
                def required(field: String): String =
                  entry.getOrElse(field, throw new ConfigLoadError(
                    s"$key.$idx.$field: Field required")).toString
                PluginConfig(
                  name = required("name"),
                  module = required("module"),
                  enabled = entry.get("enabled") match {
                    case Some(b: Boolean) => b
                    case Some(other) => throw new ConfigLoadError(
                      s"$key.$idx.enabled must be a boolean, got: $other")
                    case None => true
                  },
                  label = entry.get("label").map(_.toString).getOrElse("default"),
                  options = entry.get("options") match {
                    case Some(o: Map[_, _]) => o.asInstanceOf[Map[String, Any]]
                    case _ => Map.empty
                  })
              case (other, idx) =>
                throw new ConfigLoadError(
                  s"$key.$idx entries must be tables, got: $other")
            }
          case Some(other) =>
            throw new ConfigLoadError(
              s"$key must be an array of tables, got: $other")
        }
      GraftConfig(
        inputPlugins = pluginList("input_plugins"),
        transformPlugins = pluginList("transform_plugins"),
        outputPlugins = pluginList("output_plugins"),
        pipelineOptions = tree.get("pipeline") match {
          case Some(o: Map[_, _]) =>
            val opts = o.asInstanceOf[Map[String, Any]]
            opts.get("persist_multi_output").filter(OptionKind.boolean.parse(_).isEmpty)
              .foreach(v => throw new ConfigLoadError(
                s"pipeline.persist_multi_output must be a boolean, got: $v"))
            opts
          case Some(other) => throw new ConfigLoadError(
            s"pipeline must be a table, got: $other")
          case None => Map.empty
        })
    }
}

/** Minimal TOML-subset parser (see Config scaladoc). Produces
  * `Map[String, Any]` where array-of-tables become `Seq[Map[...]]`. */
object Toml {

  def parse(text: String): Either[Throwable, Map[String, Any]] =
    Errors.safe(parseUnsafe(text))

  private def parseUnsafe(text: String): Map[String, Any] = {
    // Root document; tables are mutable maps while building.
    import scala.collection.mutable
    type MTable = mutable.LinkedHashMap[String, Any]
    val root: MTable = mutable.LinkedHashMap.empty
    var current: MTable = root

    def navigate(path: Seq[String], createArrayElem: Boolean): MTable = {
      var node: MTable = root
      for ((seg, i) <- path.zipWithIndex) {
        val last = i == path.length - 1
        node.get(seg) match {
          case Some(t: MTable @unchecked) if !(last && createArrayElem) =>
            node = t
          case Some(arr: mutable.ArrayBuffer[_]) =>
            val buf = arr.asInstanceOf[mutable.ArrayBuffer[MTable]]
            if (last && createArrayElem) {
              val fresh: MTable = mutable.LinkedHashMap.empty
              buf += fresh
              node = fresh
            } else node = buf.last
          case None =>
            if (last && createArrayElem) {
              val buf = mutable.ArrayBuffer.empty[MTable]
              val fresh: MTable = mutable.LinkedHashMap.empty
              buf += fresh
              node(seg) = buf
              node = fresh
            } else {
              val fresh: MTable = mutable.LinkedHashMap.empty
              node(seg) = fresh
              node = fresh
            }
          case Some(other) =>
            throw new IllegalArgumentException(
              s"TOML: key '${path.take(i + 1).mkString(".")}' is not a table ($other)")
        }
      }
      node
    }

    val lines = text.linesIterator.toArray
    var li = 0
    while (li < lines.length) {
      val lineNo = li + 1
      val line = stripComment(lines(li)).trim
      if (line.nonEmpty) {
        if (line.startsWith("[[") && line.endsWith("]]")) {
          val path = line.substring(2, line.length - 2).trim
            .split('.').map(_.trim).toSeq
          current = navigate(path, createArrayElem = true)
        } else if (line.startsWith("[") && line.endsWith("]")) {
          val path = line.substring(1, line.length - 1).trim
            .split('.').map(_.trim).toSeq
          current = navigate(path, createArrayElem = false)
        } else {
          val eq = indexOfTopLevelEquals(line)
          if (eq < 0)
            throw new IllegalArgumentException(
              s"TOML syntax error at line $lineNo: '${lines(li)}'")
          val key = unquoteKey(line.substring(0, eq).trim)
          // Multi-line arrays / inline tables: keep consuming lines
          // until every top-level [ and { is balanced (tomllib
          // allows arrays to span lines; inline tables are
          // single-line per spec, but accepting both here is
          // harmless and simpler).
          var valueStr = line.substring(eq + 1).trim
          while (bracketDepth(valueStr) > 0 && li + 1 < lines.length) {
            li += 1
            valueStr = valueStr + " " + stripComment(lines(li)).trim
          }
          current(key) = parseValue(valueStr, lineNo)
        }
      }
      li += 1
    }

    def freeze(v: Any): Any = v match {
      case t: mutable.LinkedHashMap[_, _] =>
        t.asInstanceOf[MTable].map { case (k, x) => k -> freeze(x) }.toMap
      case b: mutable.ArrayBuffer[_] => b.map(freeze).toSeq
      case xs: Seq[_] => xs.map(freeze)
      case other => other
    }
    freeze(root).asInstanceOf[Map[String, Any]]
  }

  /** Drop a trailing `# comment`, ignoring `#` inside quoted strings. */
  private def stripComment(line: String): String = {
    var inBasic = false
    var inLiteral = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inBasic) {
        if (c == '\\') i += 1
        else if (c == '"') inBasic = false
      } else if (inLiteral) {
        if (c == '\'') inLiteral = false
      } else c match {
        case '"' => inBasic = true
        case '\'' => inLiteral = true
        case '#' => return line.substring(0, i)
        case _ =>
      }
      i += 1
    }
    line
  }

  private def indexOfTopLevelEquals(line: String): Int = {
    var inBasic = false
    var inLiteral = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inBasic) { if (c == '\\') i += 1 else if (c == '"') inBasic = false }
      else if (inLiteral) { if (c == '\'') inLiteral = false }
      else c match {
        case '"' => inBasic = true
        case '\'' => inLiteral = true
        case '=' => return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Net count of unclosed top-level `[`/`{` outside strings — > 0
    * means the value continues on the next line. */
  private def bracketDepth(s: String): Int = {
    var depth = 0; var inBasic = false; var inLiteral = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inBasic) { if (c == '\\') i += 1 else if (c == '"') inBasic = false }
      else if (inLiteral) { if (c == '\'') inLiteral = false }
      else c match {
        case '"' => inBasic = true
        case '\'' => inLiteral = true
        case '[' | '{' => depth += 1
        case ']' | '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    depth
  }

  private def unquoteKey(k: String): String =
    if ((k.startsWith("\"") && k.endsWith("\"")) ||
        (k.startsWith("'") && k.endsWith("'"))) k.substring(1, k.length - 1)
    else k

  private[core] def parseValue(s: String, lineNo: Int): Any = {
    val v = s.trim
    if (v.isEmpty)
      throw new IllegalArgumentException(s"TOML: empty value at line $lineNo")
    v.charAt(0) match {
      case '"' => parseBasicString(v, lineNo)
      case '\'' =>
        if (!v.endsWith("'") || v.length < 2)
          throw new IllegalArgumentException(
            s"TOML: unterminated literal string at line $lineNo")
        v.substring(1, v.length - 1)
      case '[' => parseArray(v, lineNo)
      case '{' => parseInlineTable(v, lineNo)
      case _ =>
        if (v == "true") true
        else if (v == "false") false
        else {
          val num = v.replace("_", "")
          if (num.matches("[+-]?\\d+")) num.toLong
          else if (num.matches("[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?") &&
                   (num.contains(".") || num.toLowerCase.contains("e")))
            num.toDouble
          else
            throw new IllegalArgumentException(
              s"TOML: cannot parse value '$v' at line $lineNo")
        }
    }
  }

  private def parseBasicString(v: String, lineNo: Int): String = {
    if (!v.endsWith("\"") || v.length < 2)
      throw new IllegalArgumentException(
        s"TOML: unterminated string at line $lineNo")
    val body = v.substring(1, v.length - 1)
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length) {
        body.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(body.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other =>
            throw new IllegalArgumentException(
              s"TOML: unknown escape '\\$other' at line $lineNo")
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Split on top-level commas, respecting quotes and nested
    * brackets/braces. A trailing comma (legal in TOML arrays) yields
    * a final empty part, which is dropped. */
  private def splitTopLevel(body: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inBasic = false; var inLiteral = false
    var start = 0; var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (inBasic) { if (c == '\\') i += 1 else if (c == '"') inBasic = false }
      else if (inLiteral) { if (c == '\'') inLiteral = false }
      else c match {
        case '"' => inBasic = true
        case '\'' => inLiteral = true
        case '[' | '{' => depth += 1
        case ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          parts += body.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    if (start < body.length && body.substring(start).trim.nonEmpty)
      parts += body.substring(start)
    parts.toSeq
  }

  private def parseArray(v: String, lineNo: Int): Seq[Any] = {
    if (!v.endsWith("]"))
      throw new IllegalArgumentException(
        s"TOML: unterminated array at line $lineNo")
    val body = v.substring(1, v.length - 1).trim
    if (body.isEmpty) return Seq.empty
    splitTopLevel(body).map(p => parseValue(p, lineNo))
  }

  /** Inline table `{ k = v, ... }` → Map. */
  private def parseInlineTable(v: String, lineNo: Int): Map[String, Any] = {
    if (!v.endsWith("}"))
      throw new IllegalArgumentException(
        s"TOML: unterminated inline table at line $lineNo")
    val body = v.substring(1, v.length - 1).trim
    if (body.isEmpty) return Map.empty
    splitTopLevel(body).map { part =>
      val eq = indexOfTopLevelEquals(part)
      if (eq < 0)
        throw new IllegalArgumentException(
          s"TOML: inline table entry without '=' at line $lineNo: '$part'")
      unquoteKey(part.substring(0, eq).trim) ->
        parseValue(part.substring(eq + 1).trim, lineNo)
    }.toMap
  }
}
