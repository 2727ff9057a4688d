package graft.cli

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core._

/** CLI entry point, mirroring the reference's Typer app
  * (/root/reference/packages/cryoflow-core/cryoflow_core/cli.py:39-110
  * and commands/run.py, commands/check.py). Output text and exit codes
  * follow the reference so behavior is oracle-able:
  *   graft run   [-c CONFIG] [-V]   — execute the pipeline
  *   graft check [-c CONFIG] [-V]   — schema-only dry run
  */
object Main {

  final case class CliArgs(command: String, config: Option[Path],
                           verbose: Boolean)

  def parseArgs(args: Array[String]): Either[String, CliArgs] = {
    if (args.isEmpty) return Left(usage)
    args(0) match {
      case "--version" => return Left(version)
      case "--help" | "-h" => return Left(usage)
      case _ =>
    }
    val command = args(0)
    if (command != "run" && command != "check")
      return Left(s"Unknown command: $command\n$usage")
    var config: Option[Path] = None
    var verbose = false
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "-c" | "--config" =>
          if (i + 1 >= args.length) return Left("Missing value for -c/--config")
          config = Some(Paths.get(args(i + 1))); i += 2
        case "-V" | "--verbose" => verbose = true; i += 1
        case other => return Left(s"Unknown option: $other\n$usage")
      }
    }
    Right(CliArgs(command, config, verbose))
  }

  private def usage: String =
    """Usage: graft <run|check> [-c CONFIG] [-V]
      |  run    Execute the pipeline defined in the config
      |  check  Validate the pipeline (schema-only dry run)
      |Options:
      |  -c, --config PATH  Config file (default: $XDG_CONFIG_HOME/graft/config.toml)
      |  -V, --verbose      Debug logging
      |  --version          Print version""".stripMargin

  /** Core + collections pair, like the reference's version_callback
    * (commands/utils.py:21-34). One artifact ships both tiers here,
    * so the versions coincide by construction. */
  private def version: String =
    "graft version 0.1.0\ngraft-plugin-collections version 0.1.0"

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Returns the process exit code (testable without exiting). */
  def run(args: Array[String]): Int = parseArgs(args) match {
    case Left(msg) => println(msg); if (msg == version || msg == usage) 0 else 1
    case Right(cli) => execute(cli)
  }

  private def execute(cli: CliArgs): Int = {
    val configPath = Config.getConfigPath(cli.config)
    Config.loadConfig(configPath) match {
      case Left(e) =>
        Console.err.println(s"[ERROR] ${e.getMessage}")
        1
      case Right(config) =>
        // Echo the plugin table (ref commands/run.py:23-35).
        println(s"Loading config from: $configPath")
        def echo(kind: String, xs: Seq[PluginConfig]): Unit = {
          println(s"$kind plugins (${xs.size}):")
          xs.foreach(p => println(
            s"  - ${p.module} (label: ${p.label}${if (p.enabled) "" else ", disabled"})"))
        }
        echo("Input", config.inputPlugins)
        echo("Transform", config.transformPlugins)
        echo("Output", config.outputPlugins)

        Loader.loadPlugins(config, configPath) match {
          case Left(e) =>
            Console.err.println(s"[ERROR] ${e.getMessage}")
            1
          case Right(registry) =>
            // Guards: ≥1 input and ≥1 output (ref run.py:51-57).
            if (registry.inputs.isEmpty) {
              Console.err.println("[ERROR] No input plugin configured")
              return 1
            }
            if (registry.outputs.isEmpty) {
              Console.err.println("[ERROR] No output plugin configured")
              return 1
            }
            // Reuse an already-running session (e.g. library/test
            // embedding) and only stop sessions this CLI created.
            val preexisting = SparkSession.getDefaultSession.isDefined
            implicit val spark: SparkSession = Session.getOrCreate()
            // -V ⇒ DEBUG logs (ref commands/utils.py:8-50)
            if (cli.verbose) spark.sparkContext.setLogLevel("DEBUG")
            try {
              if (cli.command == "run")
                Pipeline.runPipeline(registry.inputs, registry.transforms,
                  registry.outputs, config.persistMultiOutput) match {
                  case Right(_) =>
                    println("[SUCCESS] Pipeline completed successfully"); 0
                  case Left(e) =>
                    Console.err.println(s"[ERROR] Pipeline failed: ${e.getMessage}"); 1
                }
              else
                Pipeline.runDryRunPipeline(registry.inputs, registry.transforms,
                  registry.outputs) match {
                  case Right(schema) =>
                    // Ref commands/check.py:59-63 schema listing.
                    println("Output schema:")
                    schema.fields.foreach(f =>
                      println(s"  ${f.name}: ${f.dataType.simpleString}"))
                    println("[SUCCESS] Pipeline validation passed"); 0
                  case Left(e) =>
                    Console.err.println(s"[ERROR] Pipeline validation failed: ${e.getMessage}"); 1
                }
            } finally if (!preexisting) spark.stop()
        }
    }
  }
}
