"""The layer spans of the traced run: which public functions of the program
are timed, under which span names, with which counts.

Spark is lazy, so a span times what its call executes: a fit, a save or a
metric runs jobs inside the call; a transform only builds a plan (the
scoring transforms are timed by the workload, by forcing successive
pipeline prefixes).
"""

from __future__ import annotations

import os
import threading

from tracing import Tracer, union_seconds


def _bytes_under(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points; ``tracer.restore()`` undoes."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.base import Estimator
    from pyspark.ml.classification import LinearSVC, LogisticRegression
    from pyspark.ml.pipeline import PipelineModelWriter

    from flashml_spark.metrics import binary, hotlead, multiclass
    from flashml_spark.operators import sampling
    from flashml_spark.operators.binning import BinningEstimator
    from flashml_spark.sources.savepoint import SavepointManager
    from flashml_spark.training.ovr import OneVsRestWithScores
    from flashml_spark.training.platt import PlattScalar
    from flashml_spark.tuning.cv import CrossValidatorWithFoldMetrics

    w = tracer.wrap
    # tuning: the CV fit, and each estimator it builds; a build on a pool
    # thread is a candidate fit, the one on the calling thread the refit
    cv_threads: dict[int, int] = {}

    def cv_fit_name(args):
        cv_threads[id(args[0])] = threading.get_ident()
        return "tuning.cv.fit"

    w(CrossValidatorWithFoldMetrics, "fit", cv_fit_name)
    apply_params = CrossValidatorWithFoldMetrics._apply_params

    def traced_apply(cv, params):
        est = apply_params(cv, params)
        candidate = cv_threads.get(id(cv)) != threading.get_ident()
        name = "tuning.cv.candidate_fit" if candidate else "tuning.cv.refit"
        fit = est.fit

        def fit_traced(*a, **k):
            with tracer.span(name):
                return fit(*a, **k)

        est.fit = fit_traced
        return est

    tracer.patch(CrossValidatorWithFoldMetrics, "_apply_params", traced_apply)

    # training
    w(OneVsRestWithScores, "fit", "training.ovr.fit",
      count=lambda out, _: {"class_fits": len(out.models)})
    w(PlattScalar, "fit", "training.platt.fit")
    for cls in (LogisticRegression, LinearSVC):
        w(cls, "_fit", "training.estimator.fit")

    # experiment: the prep Pipeline.fit, with a child span per stage fit
    w(Pipeline, "_fit", "experiment.prep_fit")

    def stage_fit_name(args):
        cur = tracer.current()
        if cur is not None and cur.name == "experiment.prep_fit":
            return f"experiment.prep_fit.{type(args[0]).__name__}"
        return None

    w(Estimator, "fit", stage_fit_name)

    # operators
    for fn in ("random_split", "stratified_split", "stratified_split_approx",
               "conditional_split"):
        w(sampling, fn, "operators.sampling.split")
    w(BinningEstimator, "_fit", "operators.binning.fit")

    # metrics
    w(binary, "best_fbeta_threshold", "metrics.binary.best_f2")
    w(binary, "auroc", "metrics.binary.auroc")
    w(multiclass, "multiclass_metrics", "metrics.multiclass")
    w(hotlead, "hotlead_simulation", "metrics.hotlead")

    # sources / publish
    w(SavepointManager, "save", "sources.savepoint.save",
      count=lambda out, _: {"bytes_written": _bytes_under(out)})
    w(SavepointManager, "load", "sources.savepoint.load")
    w(PipelineModelWriter, "save", "publish.pipeline_write")
    w(PipelineModel, "load", "publish.pipeline_load")


def page_concurrency(spans, root) -> float:
    """Summed busy time of the page threads over the fan-out's wall time.

    A page thread is a non-root thread that ran an ``experiment.prep_fit``;
    its busy time runs from its first to its last top-level span.  A run
    without a page fan-out fits in the calling thread: concurrency 1."""
    page_threads = {s.thread for s in spans
                    if s.name == "experiment.prep_fit" and s.thread != root.thread}
    if not page_threads:
        return 1.0
    busy, lo, hi = 0.0, None, None
    for t in page_threads:
        own = [s for s in spans if s.thread == t and s.parent is root]
        start, end = min(s.start for s in own), max(s.end for s in own)
        busy += end - start
        lo = start if lo is None else min(lo, start)
        hi = end if hi is None else max(hi, end)
    return busy / (hi - lo) if hi > lo else 1.0


def cv_concurrency(spans) -> float:
    """Summed candidate-fit time over the union of CV wall time."""
    fits = sum(s.seconds for s in spans if s.name == "tuning.cv.candidate_fit")
    wall = union_seconds([(s.start, s.end) for s in spans if s.name == "tuning.cv.fit"])
    return fits / wall if wall else 0.0
