package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.slf4j.LoggerFactory

/** Pipeline execution engine, mirroring the reference's
  * /root/reference/packages/cryoflow-core/cryoflow_core/pipeline.py.
  *
  * All data-plane types are lazy: a `DataFrame` is an analyzed Catalyst
  * logical plan, so "executing" the transform chain only composes one
  * plan that Catalyst later optimizes (pushdown, pruning, join
  * strategy) as a whole at sink time — the exact architecture the
  * reference gets from Polars lazy frames (docs/plugin_development.md:
  * 536-555). Nothing here runs a Spark job itself: sinks run the plan
  * in OutputPlugin.execute, and the eager ops listed in
  * [[BasePlugin]]'s engine rule run actions while a transform builds
  * its plan, computing their input once through
  * [[graft.ops.Lineage.once]].
  */
object Pipeline {
  private val log = LoggerFactory.getLogger(getClass)

  /** Labeled multi-stream map (reference pipeline.py:13-14). */
  type LabeledDataMap = Map[String, Either[Throwable, DataFrame]]
  type LabeledSchemaMap = Map[String, Either[Throwable, StructType]]

  /** A9 — uniform schema extraction (pipeline.py:17-30). `df.schema`
    * is always available from the analyzed plan; no action. */
  def extractSchema(df: DataFrame): Either[Throwable, StructType] =
    Errors.safe(df.schema)

  /** A10 — sequential monadic fold over transforms; stops at first
    * Left; logs progress `[i/n] name` (pipeline.py:33-58). */
  def executeTransformChain(
      initial: Either[Throwable, DataFrame],
      transforms: Seq[TransformPlugin]): Either[Throwable, DataFrame] =
    transforms.zipWithIndex.foldLeft(initial) { case (acc, (p, i)) =>
      acc.flatMap { df =>
        log.info(s"[${i + 1}/${transforms.size}] Executing transform: ${p.name}")
        p.execute(df)
      }
    }

  /** A14 — labeled transform routing (pipeline.py:143-162), the ONE
    * fold behind both `run` (streams of DataFrames) and `check`
    * (streams of schemas): each transform applies to the stream
    * matching its label and sees every other stream as it stands at
    * that point; a missing label STORES a Left under that label (the
    * pipeline continues — note the asymmetry with output routing,
    * which short-circuits). Like every plugin call in the routing
    * folds, a throw from the transform becomes its `Left`.
    */
  private def routeTransforms[V](
      streams: Map[String, Either[Throwable, V]],
      transforms: Seq[TransformPlugin], verb: String)(
      step: (TransformPlugin, V, Map[String, Either[Throwable, V]]) => Either[Throwable, V])
      : Map[String, Either[Throwable, V]] =
    transforms.foldLeft(streams) { (acc, p) =>
      acc.get(p.label) match {
        case Some(entry) =>
          acc.updated(p.label, entry.flatMap { v =>
            log.info(s"$verb transform: ${p.name} (label: ${p.label})")
            Errors.safe(step(p, v, acc)).flatten
          })
        case None =>
          acc.updated(p.label, Left(new NoSuchElementException(
            s"No input data with label '${p.label}' for transform plugin '${p.name}'")))
      }
    }

  def executeLabeledTransformChain(
      dataMap: LabeledDataMap,
      transforms: Seq[TransformPlugin]): LabeledDataMap =
    routeTransforms(dataMap, transforms, "Executing") {
      case (m: MultiStreamTransformPlugin, df, streams) => m.executeWith(df, streams)
      case (p, df, _) => p.execute(df)
    }

  /** A11 — `check`'s transform chain: the A14 fold over
    * dry_run(schema) (pipeline.py:61-94), routed by label exactly as
    * `run` routes frames. */
  def dryRunLabeledTransformChain(
      schemaMap: LabeledSchemaMap,
      transforms: Seq[TransformPlugin]): LabeledSchemaMap =
    routeTransforms(schemaMap, transforms, "Dry-running") {
      case (m: MultiStreamTransformPlugin, s, schemas) => m.dryRunWith(s, schemas)
      case (p, s, _) => p.dryRun(s)
    }

  /** A15 — labeled output routing (pipeline.py:165-186), shared by
    * `run` and `check`: a missing label ⇒ IMMEDIATE failure return
    * (short-circuit, unlike A14); otherwise each sink gets its label's
    * stream and the fold stops at the first failure. */
  private def routeOutputs[V, R](
      streams: Map[String, Either[Throwable, V]],
      outputs: Seq[OutputPlugin], verb: String, zero: R)(
      sink: (OutputPlugin, V) => Either[Throwable, R]): Either[Throwable, R] =
    outputs.foldLeft[Either[Throwable, R]](Right(zero)) { (acc, p) =>
      acc.flatMap { _ =>
        streams.get(p.label) match {
          case Some(entry) =>
            log.info(s"$verb output: ${p.name} (label: ${p.label})")
            entry.flatMap(v => Errors.safe(sink(p, v)).flatten)
          case None =>
            Left(new NoSuchElementException(
              s"No data with label '${p.label}' for output plugin '${p.name}'"))
        }
      }
    }

  /** A15 for `run`; also A12 (pipeline.py:120-140): every sink of a
    * label receives the SAME frame, and the fan-out stops at the
    * first failure.
    *
    * `persistMultiOutput` (DEFAULT since round 10) caches each stream
    * that MORE THAN ONE sink consumes, for the duration of the
    * fan-out: without it every sink re-executes the whole upstream
    * plan (reference behavior — Polars re-optimizes per `sink_*`
    * call), which doubles a 100 TB dedup chain for the price of a
    * second copy of its OUTPUT. Labels with a single sink are never
    * cached (caching would only cost memory), so the flag is inert
    * for every 1-sink-per-label config. Opt out with
    * `persist_multi_output = false` when a label's output is larger
    * than the compute that produced it.
    */
  def executeLabeledOutput(dataMap: LabeledDataMap,
                           outputs: Seq[OutputPlugin],
                           persistMultiOutput: Boolean = true): Either[Throwable, Unit] = {
    val multi: Set[String] =
      if (persistMultiOutput)
        outputs.groupBy(_.label).filter(_._2.size > 1).keySet
      else Set.empty
    // streaming frames are never persisted (persist throws on them;
    // each streaming sink is its own writeStream query anyway)
    val effective: LabeledDataMap = dataMap.map { case (l, e) =>
      l -> (if (multi(l))
        e.map(df => if (df.isStreaming) df else df.persist())
      else e)
    }
    val result = routeOutputs(effective, outputs, "Executing", ())(
      (p, df) => p.execute(df))
    effective.foreach { case (l, e) =>
      if (multi(l)) e.foreach(df => Errors.safe(df.unpersist()))
    }
    result
  }

  /** A13 — A15 for `check`: every sink validates its label's schema
    * as the transforms left it (`result = schema.bind(plugin.dry_run)`
    * each iteration — pipeline.py:97-117), so one sink's returned
    * schema never leaks into the next sink's validation; the LAST
    * sink's result is returned. */
  def dryRunLabeledOutput(schemaMap: LabeledSchemaMap,
                          outputs: Seq[OutputPlugin]): Either[Throwable, StructType] =
    routeOutputs(schemaMap, outputs, "Dry-running", StructType(Nil))(
      (p, s) => p.dryRun(s))

  /** A16 — full pipeline (pipeline.py:188-212): inputs build the
    * labeled map (later inputs with the same label overwrite earlier,
    * matching dict semantics), transforms route by label, outputs
    * sink by label.
    */
  def runPipeline(inputs: Seq[InputPlugin],
                  transforms: Seq[TransformPlugin],
                  outputs: Seq[OutputPlugin],
                  persistMultiOutput: Boolean = true)(
      implicit spark: SparkSession): Either[Throwable, Unit] = {
    val dataMap: LabeledDataMap = inputs.map { p =>
      log.info(s"Executing input: ${p.name} (label: ${p.label})")
      p.label -> Errors.safe(p.execute()).flatten
    }.toMap
    val transformed = executeLabeledTransformChain(dataMap, transforms)
    executeLabeledOutput(transformed, outputs, persistMultiOutput)
  }

  /** A17 — full dry-run pipeline (pipeline.py:215-238): build the
    * label→schema map from the inputs' dry runs, then route it through
    * the same label folds as [[runPipeline]]. This diverges from the
    * reference, which validates only the 'default' label
    * (docs/spec.md:416-418): here every label is checked, so a
    * label-routed transform never meets another label's schema.
    * Returns the last sink's validated schema.
    */
  def runDryRunPipeline(inputs: Seq[InputPlugin],
                        transforms: Seq[TransformPlugin],
                        outputs: Seq[OutputPlugin])(
      implicit spark: SparkSession): Either[Throwable, StructType] = {
    val schemaMap: LabeledSchemaMap = inputs.map { p =>
      log.info(s"Dry-running input: ${p.name} (label: ${p.label})")
      p.label -> Errors.safe(p.dryRun()).flatten
    }.toMap
    dryRunLabeledOutput(dryRunLabeledTransformChain(schemaMap, transforms), outputs)
  }
}
