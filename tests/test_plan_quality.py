"""Plan-quality gate: no unjustified nested-loop or cartesian joins.

A BroadcastNestedLoopJoin or CartesianProduct anywhere in a gate query is
the classic scale-killer (O(N·M) at 100 TB). This test freezes the
current, audited set of justified occurrences; any NEW one fails loudly
and must either be re-planned or explicitly justified here.

Justified allowlist (each audited round 4; hard_negatives round 6):
- embed_topk / embed_sq_topk: the DELIBERATE brute-force baselines — the
  broadcast side is the ≤10-row query set; the ANN paths are the scale
  story.
- embed_neardup: the centroid-admissible list-pair table (n_lists² rows,
  metadata-sized by construction) broadcasts into the candidate join.
- important_parts / idle_customers: one-row global-aggregate scalars
  attached via broadcast crossJoin (TPC-H q11/q22 shapes).
- hard_negatives: same class as embed_topk — the label-inequality join
  condition is non-equi by definition (a negative is ANY different
  label), and the broadcast side is the ≤10-row query set; at corpus
  scale the composition goes through the ANN bucket paths first.
- unigram_train / unigram_segments (r9) / unigram_fertility (r10, a
  composition of the two): the important_parts class —
  each EM iteration's cost table attaches the ONE-ROW vocab-total
  aggregate via broadcast crossJoin (unigram._cost_table); every other
  join in the chain is an equi-join on token/word.
- lang_id_trained (r10 audit): text.py ll-join — the crossJoin side is
  `miss`, the per-language smoothing floor (one row per LANGUAGE in the
  training labels, O(10²) at any corpus scale — it grows with the label
  alphabet, not the data); the bucket-count join right after it is an
  equi-join on (__lang, __b).
- lpa_modularity (r10 audit): graph.py attaches `m_df`, the ONE-ROW
  global edge-count aggregate, via broadcast crossJoin (the
  important_parts scalar-attach shape).
- vocab_growth (r10): text.py attaches the ONE-ROW max-doc-id scalar
  via broadcast crossJoin to three bucket aggregations (the same
  scalar-attach shape; the joined sides are vocab-/doc-count-sized
  aggregates, the loop side is 1 row).
- langid_confusion (r10): composes lang_id_trained's plan verbatim (it
  aggregates that gate's output), so it inherits the SAME audited
  O(languages) smoothing-floor crossJoin — no new loop shape.
- cms_join_size (r10): the gate crossJoins two ONE-ROW aggregates (the
  sketch estimate and the exact join count) for side-by-side output —
  the important_parts scalar-attach shape on both sides.
- hybrid_rrf / retrieval_eval (r11): both embed cosine_topk's audited
  brute-force dense ranking with a ONE-row query set (the embed_topk
  class — broadcast side is the single query vector; the ANN paths are
  the scale story for the dense leg); retrieval_eval additionally
  attaches the ONE-row ideal-DCG aggregate via broadcast crossJoin
  (the important_parts scalar-attach shape). The fusion/eval joins
  themselves are k-row equi-joins.
- hits_scores (r12): hits_fixed's per-phase max normalizer now attaches
  via the important_parts one-row-aggregate broadcast crossJoin
  (2·iters of them) instead of 2·iters driver collects — the loop side
  is exactly ONE row (a global MAX) per crossJoin at any graph scale.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

ALLOWED_BNLJ = {"embed_topk", "embed_sq_topk", "embed_neardup",
                "important_parts", "idle_customers", "hard_negatives",
                "unigram_train", "unigram_segments", "unigram_fertility",
                "lang_id_trained", "lpa_modularity", "vocab_growth",
                "cms_join_size", "langid_confusion",
                "hybrid_rrf", "retrieval_eval", "hits_scores"}

# streaming queries execute a bounded replay inside the builder, and the
# roundtrips write temp files — plan text is checked for batch shapes only
_SKIP_PREFIX = ("stream_",)
_SKIP = {"csv_roundtrip", "orc_roundtrip", "partitioned_roundtrip",
         "compact_roundtrip", "bq_sink_emulated", "export_shards"}


def _gate_names():
    import __spark_entry__ as em

    return [n for n in em.queries()
            if not n.startswith(_SKIP_PREFIX) and n not in _SKIP]


@pytest.mark.parametrize("name", _gate_names())
def test_no_unjustified_nested_loop_join(spark, name):
    import __spark_entry__ as em

    df = em.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        if marker in plan:
            assert name in ALLOWED_BNLJ, (
                f"{name}: {marker} in plan — a scale-killer unless the "
                f"loop side is provably metadata-sized; audit and "
                f"allowlist it or fix the plan")


@pytest.mark.parametrize("pipeline", ["simple", "simple_lookups", "nested"])
def test_etl_pipeline_build_runs_no_jobs(spark, mb_bucket, pipeline):
    """The paper's pipelines declare their NDJSON read schemas, so
    building one plans everything and scans nothing: a schema-inference
    job would scan each input once before the action scans it again."""
    from bqetl_spark.plans.etl_nested import bqetl_nested
    from bqetl_spark.plans.etl_simple import bqetl_simple
    from tests.conftest import spark_jobs

    build = {"simple": lambda: bqetl_simple(spark, mb_bucket),
             "simple_lookups": lambda: bqetl_simple(spark, mb_bucket, True),
             "nested": lambda: bqetl_nested(spark, mb_bucket)}[pipeline]
    assert spark_jobs(spark, build) == 0
