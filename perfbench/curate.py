"""The corpus-curation phase: corpus parquet → curated survivors written.

Timed: ``llmdata.text.normalize_text`` → ``text.gopher_quality_gate``
(persisted, then filtered) and ``classify.linear_classifier_scores``
(quality score) → ``dedup.minhash_lsh_pairs`` →
``clusters.connected_clusters`` → keep the minimum id of every cluster →
``sampling.quality_budget_select`` → parquet write. The tracked caches the dedup step persists are released after the
write, as the package's harnesses do.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from blockchair_etl_spark import caching
from blockchair_etl_spark.llmdata import classify, clusters, dedup, sampling, text

# 32 hashes in 8 bands of 4: a planted pair (3-shingle Jaccard ≥ 38/39)
# shares no band with probability < 1e-8, so recall must be exactly 1.
NUM_HASHES, BAND_SIZE = 32, 4


@dataclass
class CurateResult:
    wall_s: float
    pairs: DataFrame
    kept: DataFrame
    out_path: str
    survivors: int = 0
    survivors_sha: str = ""
    pairs_out: int = 0
    planted_found: int = 0
    planted_eligible: int = 0
    errors: list = field(default_factory=list)

    @property
    def planted_recall(self) -> float:
        return self.planted_found / self.planted_eligible if self.planted_eligible else 0.0


def run_curate(spark, corpus_path: str, out_path: str) -> CurateResult:
    """The timed curation batch; ``check_curate`` must follow it."""
    t0 = time.perf_counter()
    # as queryset.corpus_prep_v3_pipeline composes these steps: spread the
    # single-split corpus over the cores before the text stages, and
    # persist the gate output so its 'keep' filter is not pushed below
    # the gate's tokenizer into the scan
    corpus = spark.read.parquet(corpus_path).repartition(spark.sparkContext.defaultParallelism)
    norm = text.normalize_text(corpus).select("doc_id", F.col("norm_text").alias("text"))
    gate = caching.tracked_persist(text.gopher_quality_gate(norm))
    scores = classify.linear_classifier_scores(norm, classify.hashed_weights(spark))
    # the gated, scored corpus and the survivors each feed several actions
    # (dedup, the survivor join; the budget selection's passes): persist
    # them once, through the package's tracked-release registry
    kept = caching.tracked_persist(
        norm.join(gate.filter("keep").select("doc_id"), "doc_id").join(
            scores.select("doc_id", "logit_q", "n_tokens"), "doc_id"
        )
    )
    pairs = dedup.minhash_lsh_pairs(kept.select("doc_id", "text"), NUM_HASHES, BAND_SIZE)
    members = clusters.connected_clusters(pairs)
    survivors = caching.tracked_persist(
        kept.join(
            members.filter(F.col("doc") != F.col("cluster_id")).select(F.col("doc").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
    )
    selected = sampling.quality_budget_select(survivors, "logit_q", n_tokens_col="n_tokens")
    selected.write.mode("overwrite").parquet(out_path)
    return CurateResult(time.perf_counter() - t0, pairs, kept, out_path)


def check_curate(spark, res: CurateResult, planted: set) -> None:
    """Untimed: planted-pair recall over pairs whose both docs passed the
    gate, the survivor-set hash; then release the tracked caches."""
    found = {(r.id_a, r.id_b) for r in res.pairs.select("id_a", "id_b").collect()}
    entered = {r.doc_id for r in res.kept.select("doc_id").collect()}
    caching.release_tracked()
    eligible = {p for p in planted if p[0] in entered and p[1] in entered}
    ids = sorted(r.doc_id for r in spark.read.parquet(res.out_path).select("doc_id").collect())
    res.survivors = len(ids)
    res.survivors_sha = hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()
    res.pairs_out = len(found)
    res.planted_found, res.planted_eligible = len(eligible & found), len(eligible)
    if not ids:
        res.errors.append("curation selected no documents")
    if res.planted_found != res.planted_eligible or not eligible:
        res.errors.append(f"planted near-dup recall {res.planted_found}/{res.planted_eligible}")
