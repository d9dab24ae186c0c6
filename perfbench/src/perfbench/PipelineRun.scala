package perfbench

import org.apache.spark.sql.DataFrame

import graft.pipeline._
import graft.quality.{ColumnConstraints, Validator}

/** Runs a YAML pipeline the way `Pipeline.run` does — load, read the
  * sources, fold the steps, write the sink — but through the public
  * per-layer calls, so each call gets its own span.
  */
object PipelineRun {

  def stepSpan(s: Step): String = s match {
    case _: Transform         => "pipeline.transform"
    case _: Validate          => "quality.validate"
    case _: Filter            => "pipeline.filter"
    case _: CurateStep        => "operators.curate"
    case _: DedupStep         => "operators.dedup"
    case _: PackStep          => "operators.pack"
    case _: ShardStep         => "operators.shard"
    case other                => "pipeline." + other.getClass.getSimpleName.toLowerCase
  }

  /** The Validate step through `graft.quality` directly: validate, then
    * enforce — what `Pipeline.applyStep` does for a step without log
    * sinks or table rules (the only kind the benchmark declares).
    */
  private def validate(pipeline: String, df: DataFrame, v: Validate): DataFrame = {
    require(v.tableRules.isEmpty && v.logPath.isEmpty,
      "the benchmark's validate steps declare column rules only")
    val specs = v.columns.filter(_.constraints.nonEmpty)
      .map(c => ColumnConstraints(c.name, c.constraints))
    val res = Validator.validate(df, pipeline, specs)
    Validator.enforce(res)
    res.valid
  }

  /** Run the pipeline in `yaml` with `vars` bound; returns the sink
    * write's wall time in milliseconds. Each span holds what its call
    * runs itself: a step that only builds a lazy plan takes little time
    * in its span, and its work lands in the span of the first call that
    * runs a job on it (often the sink's).
    */
  def apply(ctx: Ctx, yaml: String, vars: Map[String, String], op: Long): Double = {
    val spark = ctx.spark
    val spec = ctx.tracer.span("pipeline.load", op) {
      org.apache.spark.sql.graftbridge.DialectShims.register(spark)
      YamlLoader.load(yaml, ProjectDefaults(vars = vars))
    }
    val p = Pipeline(spark, spec)
    val sources = ctx.tracer.span("pipeline.read", op)(p.readSources())
    val result = spec.steps.foldLeft(sources.values.head) { (df, s) =>
      ctx.tracer.span(stepSpan(s), op) {
        s match {
          case v: Validate => validate(spec.name, df, v)
          case _           => p.applyStep(df, s)
        }
      }
    }
    ctx.tracer.span("pipeline.plan", op)(result.queryExecution.executedPlan)
    val sink = spec.sink.get
    Util.timed(ctx.tracer.span("pipeline.sink", op)(Writer.write(spark, result, sink)))._2
  }
}
