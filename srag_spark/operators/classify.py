"""Classifier-based quality filtering — the fastText-style learned
gate of the public LLM-data recipes (GPT-3's "looks like reference
text" filter, LLaMA's Wikipedia-reference classifier, CCNet's
fastText language/quality models): train a linear classifier on
hashed bag-of-words features over a small labeled seed, score the
whole corpus, keep pages above a probability threshold.

This complements the rule-based gates (`textstats.gopher_rules`,
`quality_score`) and the generative scorers (`textstats.
lm_perplexity`, `selection.dsir_weights`): rules encode priors,
DSIR/perplexity model the target distribution, a trained
discriminative classifier learns the boundary from labeled examples.
No reference counterpart (file:line: none — SRAG's pipeline has no
learned corpus gate); public-recipe parity feature in the SURVEY §8
additions family.

Spark-first shape (all public pyspark.ml):

* featurization is `SQLTransformer` (native word split, stays in
  codegen) → `HashingTF` (hashed term counts, row-local, no shuffle,
  no vocabulary state — the property that makes it corpus-scale: a
  vocabulary-fitting stage like CountVectorizer would need a full
  corpus pass + a driver-held vocab; hashing needs neither);
* training is `LogisticRegression` (distributed L-BFGS: per-iteration
  treeAggregate gradient passes over the LABELED SEED only — the seed
  is small by construction, the corpus never enters training);
* scoring is `PipelineModel.transform`: one map-side pass, the
  coefficient vector (numFeatures doubles) broadcast once, zero
  shuffles — the plan a 100 TB scoring sweep needs.

Training is iterative and float-accumulation-order dependent, so there
is deliberately NO DuckDB oracle for the fitted model (the driver
records the rows-only check); determinism of the *plumbing* is pinned
by tests (separability, threshold filter, schema).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF, SQLTransformer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORDS_STMT = (
    "SELECT *, filter(split(trim(regexp_replace(lower({text}), "
    "'[^a-z0-9]+', ' ')), ' '), x -> x != '') AS _words FROM __THIS__"
)


def fit_quality_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_features: int = 1 << 18,
    reg_param: float = 1e-3,
    max_iter: int = 25,
) -> PipelineModel:
    """Fit the seed classifier: ``labeled`` is the (small) hand- or
    heuristically-labeled frame with ``label_col`` ∈ {0.0, 1.0}
    (1 = quality).  Returns a ``PipelineModel`` whose ``transform``
    adds ``_words``, ``_tf``, ``rawPrediction``, ``probability``,
    ``prediction`` — feed it to :func:`score_quality` for the tidy
    scoring frame.

    The normalization inside the SQLTransformer is
    ``dedup.norm_text_col``'s (lowercase, non-alphanumerics → space),
    so classifier tokens match the dedup/DSIR token stream."""
    model = Pipeline(
        stages=[
            SQLTransformer(statement=_WORDS_STMT.format(text=text_col)),
            HashingTF(
                inputCol="_words", outputCol="_tf", numFeatures=n_features
            ),
            LogisticRegression(
                featuresCol="_tf",
                labelCol=label_col,
                maxIter=max_iter,
                regParam=reg_param,
                standardization=False,
            ),
        ]
    ).fit(labeled)
    # Scoring task closures capture the model, and its LR training summary
    # holds the SparkSession, which stops serializing once the session has
    # run an Observation (pipeline waves do).  Nothing reads it: drop it.
    none = getattr(getattr(labeled.sparkSession._jvm.scala, "None$"), "MODULE$")
    model.stages[-1]._java_obj.setSummary(none)
    return model


def score_quality(
    docs: DataFrame,
    model: PipelineModel,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, quality_p, pred): P(quality) and the 0.5-threshold
    label for every doc.  One map-side transform — the model's
    coefficient vector broadcasts with the task closure; no shuffle,
    no driver round-trip per row."""
    return model.transform(docs).select(
        F.col(id_col).alias("doc_id"),
        F.round(vector_to_array("probability")[1], 6).alias("quality_p"),
        F.col("prediction").cast("int").alias("pred"),
    )


def classifier_quality_filter(
    docs: DataFrame,
    model: PipelineModel,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep docs scoring ``quality_p >= threshold``; passes the input
    columns through plus ``quality_p`` (the GPT-3-style gate keeps the
    score for downstream mixture/selection use)."""
    scored = score_quality(docs, model, id_col=id_col).select(
        F.col("doc_id").alias(id_col), "quality_p"
    )
    return docs.join(scored, id_col).filter(
        F.col("quality_p") >= F.lit(float(threshold))
    )
