"""Snort-similarity Random Forest (SURVEY.md §2.10 M7/M8;
HogSnort.scala:37-236).

Label semantics (:126-137): Snort-alerted flows (non-empty generator AND
signature, not excluded) → 1; nDPI risk Safe/Fun → 0; everything else →
−1 (unlabeled, gets scored).  Pipeline parity: StringIndexer per char
feature (handleInvalid=skip), label indexer (keep), VectorAssembler, RF
numTrees=100, gini, maxBins=500, maxDepth=30,
featureSubsetStrategy="90", thresholds (0.2, 0.8, 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.config import MLConfig

def label_flows(
    flows: DataFrame, excluded_sigs: list[tuple[str, str]] | None = None
) -> DataFrame:
    """M8 3-way labeling (P10)."""
    has_snort = (
        F.col("event_signature_id").isNotNull()
        & (F.col("event_signature_id") != "")
        & F.col("event_generator_id").isNotNull()
        & (F.col("event_generator_id") != "")
    )
    if excluded_sigs:
        for gen, sig in excluded_sigs:
            has_snort = has_snort & ~(
                (F.col("event_generator_id") == gen)
                & (F.col("event_signature_id") == sig)
            )
    is_clean = F.col("ndpi_risk").isin("Safe", "Fun")
    return flows.withColumn(
        "label",
        F.when(has_snort, F.lit(1)).when(is_clean, F.lit(0)).otherwise(F.lit(-1)),
    )

def rf_train_score(
    flows: DataFrame,
    numeric_cols: list[str],
    char_cols: list[str],
    cfg: MLConfig,
    excluded_sigs: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """M7: fit on labeled rows, score the unlabeled; returns flagged rows
    (prediction > 0) with probabilities."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import StringIndexer, VectorAssembler

    labeled = label_flows(flows, excluded_sigs)
    # lenient numeric parse: missing/"" → -1 (convertFn, HogSnort.scala:51-74)
    casted = labeled.select(
        "*",
        *[
            F.coalesce(F.col(c).try_cast("double"), F.lit(-1.0)).alias(f"num_{c}")
            for c in numeric_cols
        ],
        *[F.coalesce(F.col(c).cast("string"), F.lit("-1")).alias(f"chr_{c}") for c in char_cols],
    )
    train = casted.filter(F.col("label") >= 0).cache()
    score = casted.filter(F.col("label") < 0)

    indexers = [
        StringIndexer(
            inputCol=f"chr_{c}", outputCol=f"cat_{c}", handleInvalid="keep"
        )
        for c in char_cols
    ]
    feature_cols = [f"num_{c}" for c in numeric_cols] + [f"cat_{c}" for c in char_cols]
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="rawFeatures")
    rf = RandomForestClassifier(
        labelCol="label",
        featuresCol="rawFeatures",
        probabilityCol="probabilities",
        numTrees=cfg.rf_num_trees,
        impurity="gini",
        maxBins=cfg.rf_max_bins,
        maxDepth=min(cfg.rf_max_depth, 30),
        featureSubsetStrategy="90",
        seed=cfg.seed,
    )
    # decision threshold parity (reference thresholds (0.2, 0.8):
    # predict malicious only when P(1) clears 80%); set post-init for
    # pyspark-4 kwargs compatibility
    rf.setThresholds([0.2, 0.8])
    model = Pipeline(stages=[*indexers, assembler, rf]).fit(train)
    out = model.transform(score)
    return out.filter(F.col("prediction") > 0)
