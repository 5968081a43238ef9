package graftbench

import graft.automl.ModelFactory
import graft.model.{FittedSurvModel, Param, SurvModel}
import graft.surv.SurvDataset
import org.apache.spark.sql.DataFrame

/** Timing decorators over the public model traits. Hyperband accepts
  * the factory through `seeds`, so every fit, score and release of a
  * search passes through these without touching the program.
  */
final class TracedFactory(inner: ModelFactory, run: Run) extends ModelFactory {
  val name: String = inner.name
  val space: Seq[Param] = inner.space
  def build(params: Map[String, Any], epochs: Int): SurvModel =
    new TracedModel(inner.build(params, epochs), name, epochs, run,
      countEvals = true)
}

/** `countEvals`: a fit followed by a score and a release is one
  * operation (a Hyperband config evaluation), timed fit start to
  * release end.
  */
final class TracedModel(inner: SurvModel, family: String, epochs: Int,
                        run: Run, countEvals: Boolean = false) extends SurvModel {
  def name: String = inner.name
  def hyperparameterSpace: Seq[Param] = inner.hyperparameterSpace
  def fit(ds: SurvDataset): FittedSurvModel = {
    val t0 = System.nanoTime()
    val fitted = run.tracer.span("model.fit", "model",
      Map("family" -> family, "epochs" -> epochs.toString))(inner.fit(ds))
    new TracedFitted(fitted, family, t0, run, countEvals)
  }
}

final class TracedFitted(inner: FittedSurvModel, family: String,
                         fitStart: Long, run: Run, countEvals: Boolean)
    extends FittedSurvModel {
  private var scored = false

  def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame =
    inner.predictSurv(tensorized, grid)

  override def score(ds: SurvDataset): Map[String, Double] = {
    val s = run.tracer.span("eval.score", "eval",
      Map("family" -> family))(inner.score(ds))
    scored = true
    s
  }

  override def release(): Unit = {
    run.tracer.span("model.release", "model")(inner.release())
    if (countEvals && scored) run.recordOp(System.nanoTime() - fitStart)
  }
}
