package graft.core

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference config suite
  * (packages/cryoflow-core/tests/config/test_load_config.py and the
  * TOML fixtures in tests/conftest.py:96-149). */
class ConfigSpec extends AnyFunSuite {

  private val valid =
    """
      |[[input_plugins]]
      |name = "scan-sales"
      |module = "parquet_scan"
      |label = "sales"
      |[input_plugins.options]
      |input_path = "data/input.parquet"
      |
      |[[transform_plugins]]
      |name = "double-amount"
      |module = "column_multiplier"
      |enabled = false
      |[transform_plugins.options]
      |column_name = "amount"
      |multiplier = 2
      |
      |[[output_plugins]]
      |name = "write-out"
      |module = "parquet_writer"
      |[output_plugins.options]
      |output_path = "out/result.parquet"
      |""".stripMargin

  private def parse(s: String) = Toml.parse(s)

  test("valid config parses with labels, options, enabled flag") {
    val tmp = Files.createTempFile("cfg", ".toml")
    Files.writeString(tmp, valid)
    val cfg = Config.loadConfig(tmp).fold(e => fail(e.getMessage), identity)
    assert(cfg.inputPlugins.map(_.module) == Seq("parquet_scan"))
    assert(cfg.inputPlugins.head.name == "scan-sales")
    assert(cfg.inputPlugins.head.label == "sales")
    assert(cfg.inputPlugins.head.options("input_path") == "data/input.parquet")
    assert(cfg.transformPlugins.head.enabled == false)
    assert(cfg.transformPlugins.head.options("multiplier") == 2L)
    assert(cfg.outputPlugins.head.label == "default") // default label
    assert(cfg.outputPlugins.head.enabled)            // default enabled
  }

  test("missing file fails with 'Config file not found'") {
    val e = Config.loadConfig(Paths.get("/nope/missing.toml")).left.toOption.get
    assert(e.getMessage.contains("Config file not found"))
  }

  test("syntax error fails with parse-stage message (ref 'Failed to parse TOML config')") {
    val tmp = Files.createTempFile("bad", ".toml")
    Files.writeString(tmp, "[[input_plugins\nmodule =")
    val e = Config.loadConfig(tmp).left.toOption.get
    assert(e.getMessage.contains("Failed to parse TOML config"))
  }

  test("missing required 'module' field fails validation (pydantic shape)") {
    val tmp = Files.createTempFile("nomod", ".toml")
    Files.writeString(tmp,
      valid.replace("module = \"column_multiplier\"\n", ""))
    val e = Config.loadConfig(tmp).left.toOption.get
    assert(e.getMessage.contains("Config validation failed"))
    assert(e.getMessage.contains("transform_plugins.0.module: Field required"))
  }

  test("missing required 'name' field fails validation (ref config.py:17 has no default)") {
    val tmp = Files.createTempFile("noname", ".toml")
    Files.writeString(tmp,
      valid.replace("name = \"scan-sales\"\n", ""))
    val e = Config.loadConfig(tmp).left.toOption.get
    assert(e.getMessage.contains("Config validation failed"))
    assert(e.getMessage.contains("input_plugins.0.name: Field required"))
  }

  test("missing plugin-list keys fail validation (ref config.py:24-29 all required)") {
    val tmp = Files.createTempFile("empty", ".toml")
    Files.writeString(tmp, "# nothing\n")
    val e = Config.loadConfig(tmp).left.toOption.get
    assert(e.getMessage.contains("Config validation failed"))
    assert(e.getMessage.contains("input_plugins: Field required"))
  }

  test("explicitly empty plugin lists are valid (guards happen in CLI)") {
    val tmp = Files.createTempFile("emptylists", ".toml")
    Files.writeString(tmp,
      "input_plugins = []\ntransform_plugins = []\noutput_plugins = []\n")
    val cfg = Config.loadConfig(tmp).fold(e => fail(e.getMessage), identity)
    assert(cfg.inputPlugins.isEmpty && cfg.outputPlugins.isEmpty)
  }

  test("optional [pipeline] table carries engine options; absent means empty") {
    val tmp = Files.createTempFile("popts", ".toml")
    Files.writeString(tmp, valid +
      "\n[pipeline]\npersist_multi_output = true\n")
    val cfg = Config.loadConfig(tmp).fold(e => fail(e.getMessage), identity)
    assert(cfg.pipelineOptions("persist_multi_output") == true)

    val plain = Files.createTempFile("noopts", ".toml")
    Files.writeString(plain, valid)
    val cfg2 = Config.loadConfig(plain).fold(e => fail(e.getMessage), identity)
    assert(cfg2.pipelineOptions.isEmpty)
  }

  test("a non-boolean persist_multi_output fails validation, naming the key") {
    val tmp = Files.createTempFile("popts", ".toml")
    Files.writeString(tmp, valid + "\n[pipeline]\npersist_multi_output = \"yes\"\n")
    val err = Config.loadConfig(tmp).left.toOption.get
    assert(err.isInstanceOf[ConfigLoadError])
    assert(err.getMessage.contains("persist_multi_output must be a boolean"))

    Files.writeString(tmp, valid + "\n[pipeline]\npersist_multi_output = false\n")
    assert(!Config.loadConfig(tmp).fold(e => fail(e.getMessage), identity)
      .persistMultiOutput)
  }

  test("TOML subset: scalars, arrays, comments, quoted strings") {
    val tree = parse(
      """a = 1
        |b = 2.5            # trailing comment
        |c = "has # hash and \"quote\""
        |d = ['x', "y"]
        |e = true
        |[tbl]
        |f = [1, 2, 3]
        |""".stripMargin).fold(e => fail(e.getMessage), identity)
    assert(tree("a") == 1L)
    assert(tree("b") == 2.5)
    assert(tree("c") == "has # hash and \"quote\"")
    assert(tree("d") == Seq("x", "y"))
    assert(tree("e") == true)
    assert(tree("tbl").asInstanceOf[Map[String, Any]]("f") == Seq(1L, 2L, 3L))
  }

  test("multi-line arrays parse (tomllib-legal hand-wrapped lists)") {
    val tree = parse(
      """cols = [
        |  "l_orderkey",   # keep
        |  "l_quantity",
        |]
        |nested = [[1, 2],
        |  [3, 4]]
        |after = 7
        |""".stripMargin).fold(e => fail(e.getMessage), identity)
    assert(tree("cols") == Seq("l_orderkey", "l_quantity"))
    assert(tree("nested") == Seq(Seq(1L, 2L), Seq(3L, 4L)))
    assert(tree("after") == 7L)
  }

  test("inline tables parse, including nested in arrays") {
    val tree = parse(
      """point = { x = 1, y = "two", flag = true }
        |aggs = [ { fn = "sum", col = "qty" }, { fn = "avg", col = "price" } ]
        |""".stripMargin).fold(e => fail(e.getMessage), identity)
    val pt = tree("point").asInstanceOf[Map[String, Any]]
    assert(pt("x") == 1L && pt("y") == "two" && pt("flag") == true)
    val aggs = tree("aggs").asInstanceOf[Seq[Map[String, Any]]]
    assert(aggs.map(_("fn")) == Seq("sum", "avg"))
  }

  test("the reference's own examples/config.toml validates") {
    val ref = Paths.get("/root/reference/examples/config.toml")
    assume(Files.exists(ref))
    val cfg = Config.loadConfig(ref).fold(e => fail(e.getMessage), identity)
    assert(cfg.inputPlugins.head.name == "parquet-scan")
    assert(cfg.transformPlugins.head.options("multiplier") == 2L)
    assert(cfg.outputPlugins.head.label == "default")
  }

  test("bindSafe wraps failures with the message prefix (ref result.py:12-41)") {
    val f = Errors.bindSafe[Int, Int](x => 10 / x,
      (m, c) => new ConfigLoadError(m, c), "Division stage failed")
    assert(f(5) == Right(2))
    val err = f(0).left.toOption.get
    assert(err.isInstanceOf[ConfigLoadError])
    assert(err.getMessage.startsWith("Division stage failed: "))
  }

  test("XDG default config path") {
    val p = Config.getConfigPath(None)
    assert(p.toString.endsWith("graft/config.toml"))
    val explicit = Paths.get("/tmp/x.toml")
    assert(Config.getConfigPath(Some(explicit)) == explicit)
  }
}
