package graft.core

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The [[BasePlugin]] option accessors: which TOML forms each kind
  * accepts, and how a rejection reads. */
class OptionsSpec extends AnyFunSuite {

  /** A plugin with one option `k`, exposing the accessors. */
  private class Stub(value: Option[Any]) extends TransformPlugin {
    def name: String = "stub"
    val options: Map[String, Any] = value.map("k" -> _).toMap
    val configDir: Path = Paths.get("/tmp")
    def execute(df: DataFrame): Either[Throwable, DataFrame] = Right(df)
    def dryRun(schema: StructType): Either[Throwable, StructType] = Right(schema)
    def read[T](kind: OptionKind[T]): Either[Throwable, T] = required("k", kind)
    def intOr(default: Int): Int = int("k", default)
    def flagOr(default: Boolean): Boolean = flag("k", default)
    def strings: Option[Seq[String]] = strs("k")
  }

  private def read[T](v: Any, kind: OptionKind[T]) = new Stub(Some(v)).read(kind)

  private val accepted: Seq[(String, Any, OptionKind[_], Any)] = Seq(
    ("int", 5L, OptionKind.int, 5),
    ("int", 5, OptionKind.int, 5),
    ("int", 5.0, OptionKind.int, 5),
    ("int", "5", OptionKind.int, 5),
    ("long", 9007199254740993L, OptionKind.long, 9007199254740993L),
    ("long", "9007199254740993", OptionKind.long, 9007199254740993L),
    ("double", 0.5, OptionKind.double, 0.5),
    ("double", 2L, OptionKind.double, 2.0),
    ("double", "0.5", OptionKind.double, 0.5),
    ("boolean", true, OptionKind.boolean, true),
    ("boolean", "false", OptionKind.boolean, false),
    ("string", "x", OptionKind.string, "x"),
    ("string", 7L, OptionKind.string, "7"),
    ("list", Seq("a", "b"), OptionKind.strings, Seq("a", "b")),
    ("list", "a", OptionKind.strings, Seq("a")),
    ("list", Seq(0.8, 1L), OptionKind.numbers, Seq(0.8, 1.0)),
    ("table", Map("a" -> 1L), OptionKind.tableOf(OptionKind.double), Map("a" -> 1.0)))

  for ((kind, v, k, want) <- accepted)
    test(s"$kind accepts ${OptionKind.show(v)} (${v.getClass.getSimpleName})") {
      assert(read(v, k) == Right(want))
    }

  private val rejected: Seq[(String, Any, OptionKind[_])] = Seq(
    ("int", 5.5, OptionKind.int),
    ("int", "abc", OptionKind.int),
    ("int", 3000000000L, OptionKind.int),
    ("int", true, OptionKind.int),
    ("double", "abc", OptionKind.double),
    ("boolean", 1L, OptionKind.boolean),
    ("boolean", "yes", OptionKind.boolean),
    ("string", Seq("a"), OptionKind.string),
    ("list", Seq("a", Seq("b")), OptionKind.strings),
    ("table", "nope", OptionKind.tableOf(OptionKind.string)))

  for ((kind, v, k) <- rejected)
    test(s"$kind rejects ${OptionKind.show(v)}, naming plugin, key, kind and value") {
      val e = read(v, k).left.toOption.get
      assert(e.isInstanceOf[PluginExecutionError])
      assert(e.getMessage ==
        s"stub: Option 'k' must be ${k.what}, got: ${OptionKind.show(v)}")
    }

  test("a missing required key reads Option 'k' is required") {
    val e = new Stub(None).read(OptionKind.int).left.toOption.get
    assert(e.isInstanceOf[PluginExecutionError])
    assert(e.getMessage == "Option 'k' is required")
  }

  test("defaulted accessors default when absent and throw on a wrong kind") {
    assert(new Stub(None).intOr(3) == 3)
    assert(new Stub(Some(5.0)).intOr(3) == 5)
    assert(new Stub(None).flagOr(true))
    assert(new Stub(None).strings.isEmpty)
    val e = intercept[PluginExecutionError](new Stub(Some("yes")).flagOr(false))
    assert(e.getMessage.contains("stub") && e.getMessage.contains("'k'"))
    intercept[PluginExecutionError](new Stub(Some(5.5)).intOr(3))
  }
}
