"""The benchmark's workloads: inputs, one timed iteration, correctness checks.

Each workload is a closed loop with one client: an iteration starts only
after the previous one has finished.  ``prepare`` makes the inputs from the
seed and materialises them as parquet; ``iterate`` is the timed unit, one
``Experiment.run``; ``check`` runs after the timed loop and returns
``(name, ok, detail)`` rows; ``known_defects`` runs the two recorded
defects and returns ``(name, state, detail)`` rows (see ``_known_defect``).
"""

from __future__ import annotations

import os
import re

import data


def journey_config(savepoint_root: str):
    """Page-level hotlead training: 3 page models fitted concurrently,
    per-page equi-area binning, LR grid-CV, savepoints and published
    pipelines on, the journey-level custom metrics."""
    from flashml_spark.experiment import ExperimentConfig

    return ExperimentConfig(
        primary_keys=["visitor_id"],
        response="response",
        text_cols=["url"],
        categorical_cols=["device", "channel", "region"],
        numerical_cols=["dwell", "scroll"],
        page_col="page",
        num_pages=3,
        binning=[{"variable": "dwell", "type": "equiarea", "buckets": 5}],
        text_method="tfidf",
        slots=256,
        algorithm="logistic_regression",
        tuning="cv",
        param_grid={"regParam": [0.01, 0.1]},
        cv_folds=2,
        custom_metrics={"type": "prob_only"},
        savepoint_root=savepoint_root,
        seed=7,
    )


def intent_config():
    """Multi-intent text training: case normalisation -> regex replacement
    -> stopwords -> Porter stemming -> tokenizer, tf-idf with 5,000 slots,
    OVR LinearSVC with multiclass Platt, top-3 intents."""
    from flashml_spark.experiment import ExperimentConfig

    return ExperimentConfig(
        primary_keys=["doc_id"],
        response="intent",
        text_cols=["text_clean"],
        preprocessing_steps=[{
            "inputVariable": "text",
            "outputVariable": "text_clean",
            "transformations": [
                {"type": "case_normalization"},
                {"type": "regex_replacement", "parameter": [
                    {"pattern": "[0-9]+", "replacement": " num "},
                    {"pattern": "[!?.,]", "replacement": " "},
                ]},
                {"type": "stopwords", "parameter": data.STOPWORDS},
                {"type": "stemming"},
                {"type": "tokenizer", "parameter": r"\s+"},
            ],
        }],
        text_method="tfidf",
        slots=5000,
        algorithm="svm",
        algo_params={"maxIter": 5},
        multi_intent=True,
        top_k=3,
        seed=7,
    )


class Workload:
    """Base class; ``rows`` is the input size ``rows_per_s`` divides by."""

    name = ""
    quality_name = ""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.rows = 0
        self.exp = None  # the Experiment of the latest iteration
        self.results: list[dict] = []  # its metrics, one per iteration

    def _materialise(self, pdf, name: str):
        """pandas -> parquet under the work dir -> a DataFrame over it."""
        path = f"{self.work}/input/{name}"
        self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
        df = self.spark.read.parquet(path)
        df.count()
        return df

    def iterate(self) -> None:
        from flashml_spark.experiment import Experiment

        self.exp = Experiment(self.cfg)
        self.results.append(self.exp.run(self.spark, self.df))


def _within(name: str, values: list, lo: float, hi: float) -> tuple:
    """Every iteration's value lies in ``[lo, hi]``."""
    return (name, all(lo <= v <= hi for v in values),
            f"values={[round(v, 6) for v in values]} range=[{lo:.6f}, {hi:.6f}]")


def _known_defect(name: str, fn, signature: str) -> tuple:
    """``(name, state, detail)``: state ``failing`` while ``fn`` raises the
    defect's own AnalysisException (``signature`` is searched in its
    message), ``fixed`` once it runs, and ``unexpected`` for any other
    failure, which counts as a failed check."""
    try:
        fn()
    except Exception as exc:
        detail = f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}"
        known = type(exc).__name__ == "AnalysisException" and re.search(signature, str(exc))
        return (name, "failing" if known else "unexpected", detail)
    return (name, "fixed", "no longer fails")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _predict_with(wl, df):
    """``Experiment.predict`` with the latest iteration's fitted page
    pipelines in place of ones loaded from disk."""
    from flashml_spark.experiment import Experiment

    exp = Experiment(wl.cfg)
    exp.models_ = wl.exp.models_
    return exp.predict(wl.spark, df)


def _auroc(score, label) -> float:
    """Rank-sum AUROC with average ranks on ties."""
    import pandas as pd

    ranks = pd.Series(score).rank(method="average").to_numpy()
    pos = label == 1
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    return (ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)


class JourneyTrain(Workload):
    name = "journey_train"
    # the oracle absorbs most of the seed-to-seed spread of the test set
    quality_name = "test_auroc / oracle_auroc"
    visitors = 2000  # ~6,000 page rows

    def prepare(self) -> None:
        pdf = data.journeys(self.seed, self.visitors)
        self.rows = len(pdf)
        self.df = self._materialise(pdf, "journeys")
        self.cfg = journey_config(f"{self.work}/savepoints/journey")

    def _quality_ratios(self) -> list:
        """Each iteration's test AUROC over the AUROC of the latent
        propensity on the same test rows (every iteration splits alike)."""
        from flashml_spark.sources.savepoint import SavepointManager

        test = SavepointManager(self.spark, self.cfg.savepoint_root).load("sampling", "test")
        rows = test.select("visitor_id", "page").join(
            self.df.select("visitor_id", "page", "propensity", "response"),
            ["visitor_id", "page"]).toPandas()
        oracle = _auroc(rows["propensity"].to_numpy(), rows["response"].to_numpy())
        return [r["auroc"] / oracle for r in self.results]

    def quality(self) -> float:
        return self._quality_ratios()[-1]

    def check(self) -> list:
        from flashml_spark.sources.savepoint import SavepointManager

        root = self.cfg.savepoint_root
        sp = SavepointManager(self.spark, root)
        n_read = sp.load("dataReader", "full").count()
        n_train = sp.load("sampling", "train").count()
        n_test = sp.load("sampling", "test").count()
        n_scored = sum(sp.load("scoring", "test", page=k).count() for k in range(3))
        published = [os.path.isdir(f"{root}/pipeline/page{k}/model_pipeline") for k in range(3)]
        return [
            ("journey.rows", n_read == self.rows and n_train + n_test == self.rows
             and n_scored == n_test,
             f"input={self.rows} read={n_read} train={n_train} test={n_test} scored={n_scored}"),
            ("journey.published_pipelines", all(published), f"pages={published}"),
            # the ratio ranged 0.863-0.916 over twenty seeds; a model cannot
            # beat the propensity by more than noise
            _within("journey.test_auroc_over_oracle", self._quality_ratios(), 0.84, 1.02),
        ]

    def known_defects(self) -> list:
        """(b) ``Experiment.predict`` of a page-level model with binning
        fails at the cross-page union: ``run`` drops the page-qualified
        ``<var>_page<k>_binned`` columns, ``predict`` does not."""
        return [_known_defect(
            "known_defect.page_binning_predict_union",
            lambda: _force(_predict_with(self, self.df.limit(200))),
            r'Cannot resolve column name "dwell_page\d+_binned"',
        )]

    def layer_probe(self, timer) -> tuple:
        """A predict-type run's pipeline load: the three published page
        pipelines, loaded by a fresh Experiment."""
        from flashml_spark.experiment import Experiment

        Experiment(self.cfg).load_models()  # traced as publish.pipeline_load
        return {}, []


class IntentTrain(Workload):
    name = "intent_train"
    quality_name = "test_weighted_f1"
    docs = 12000

    def prepare(self) -> None:
        self.pdf = data.intents(self.seed, self.docs)
        self.rows = len(self.pdf)
        self.df = self._materialise(self.pdf, "intents")
        self.cfg = intent_config()

    def quality(self) -> float:
        return self.results[-1]["weightedF1"]

    def check(self) -> list:
        """Weighted precision and F1 within 0.03 of the generator's Bayes
        classifier on the same test rows: the split is redone as the run
        did it (``randomSplit`` is deterministic for one input)."""
        from flashml_spark.experiment import Experiment

        exp = Experiment(self.cfg)
        _, test = exp.split(exp.read(self.df))
        ids = {r[0] for r in test.select("doc_id").collect()}
        oracle = data.intent_oracle(self.pdf[self.pdf["doc_id"].isin(ids)])
        return [
            _within(f"intent.test_{key}", [r[key] for r in self.results],
                    oracle[key] - 0.03, oracle[key] + 0.03)
            for key in ("weightedPrecision", "weightedF1")
        ]

    def known_defects(self) -> list:
        """(a) predict on unlabelled input fails for the multi-intent model:
        the fitted StringIndexer (``handleInvalid="skip"``) needs the
        response column."""
        unlabelled = self.df.limit(200).drop(self.cfg.response)
        return [_known_defect(
            "known_defect.multi_intent_unlabelled_predict",
            lambda: _force(_predict_with(self, unlabelled)),
            rf"`{self.cfg.response}` cannot be resolved",
        )]

    def layer_probe(self, timer) -> tuple:
        """Score the input through successive pipeline prefixes (prep,
        +vectorize, +OVR, then the full predict with Platt and top-K) and
        difference the forced times: a transform is lazy, so only a forced
        prefix shows its cost.  Then the operators probe (``curation.py``),
        whose oracle checks are returned with its metrics."""
        from pyspark.ml import PipelineModel

        import curation

        from flashml_spark.training.ovr import OneVsRestScoresModel
        from flashml_spark.training.platt import PlattScalarModel

        (model,) = self.exp.models_
        stages = list(model.stages)
        kinds = []
        for s in stages:
            if isinstance(s, OneVsRestScoresModel):
                kinds.append("training.ovr")
            elif isinstance(s, PlattScalarModel):
                kinds.append("training.platt")
            elif (type(s).__module__.startswith("flashml_spark.preprocessing")
                  or type(s).__name__ == "RegexTokenizer"):  # the chain's last step
                kinds.append("preprocessing")
            else:
                kinds.append("vectorization")
        # a layer cheaper than the run-to-run noise can difference below 0;
        # it reads 0
        out, prev = {}, 0.0
        for layer in ("preprocessing", "vectorization", "training.ovr"):
            upto = max(i for i, k in enumerate(kinds) if k == layer) + 1
            scored = PipelineModel(stages[:upto]).transform(self.df)
            t = timer(lambda: _force(scored))
            out[f"{layer}.transform_s"] = max(t - prev, 0.0)
            prev = t
        t = timer(lambda: _force(_predict_with(self, self.df)))
        out["training.platt.transform_s"] = max(t - prev, 0.0)
        operators, checks = curation.probe(self.spark, self.seed, self.work)
        return {**out, **operators}, checks


WORKLOADS = {w.name: w for w in (JourneyTrain, IntentTrain)}
