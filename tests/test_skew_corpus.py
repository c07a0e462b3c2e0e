"""Standing extreme-key-skew robustness gate — the fifth corpus axis
(r13; VERDICT r12 task 6).

SURVEY §4's "one monorepo dominates" shape: one bot user with ~90% of
events, one source with ~90% of documents sharing a boilerplate
prefix, one whale customer with ~90% of orders, a hot part on half the
lineitems, and 30% of embeddings collapsed onto one vector (one LSH
bucket holds the mass). The r13 survey ran all 246 registry queries
against the 10× version of this corpus: 241 executed with NO
pathological runtime (max 16.6 s, consistent with uniform-data cost at
that scale — the salted/bucketed/blocked designs hold under 90% key
mass), and 5 crashed on ONE root cause — the token-set Jaccard
family's data-derived deletion distance exceeded its d ≤ 2 domain on
boilerplate-lengthened documents (>57 tokens) and refused. Fixed by
candidate-scheme auto-selection: past d = 2 the pair pipeline switches
to PPJoin-style prefix keys (``_prefix_keys_expr``, lossless under the
same naive-O(n²) oracle; ``test_deletion_distance.py`` proves scheme
equivalence and oracle parity on minimal corpora).

This gate keeps both properties closed on a smaller (2×) build of the
same shape: the five formerly-crashing queries execute AND the two
oracled members of the fixed family hash-match the naive oracle, and
one delegate per skew-sensitive family (salted two-phase agg, hot-user
sessionize, per-user RFM, hot-part top-k, shared-shingle MinHash,
single-bucket LSH, hot-user streaming replay, token-frequency stats)
executes — with the oracled ones hash-checked too, so the skew axis
gets value proofs, not just no-crash proofs. Whole gate budget ~60 s.
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE
from .skew_corpus import build_skew_corpus


@pytest.fixture(scope="session")
def skew_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("skew") / "sf2x"
    return build_skew_corpus(SF_SMOKE, str(out), factor=2)


# the five r13 survey crashes — must execute (values proven below and
# in test_deletion_distance.py)
FIXED_FAMILY = [
    "dedup_jaccard_pairs",
    "dedup_cluster_components",
    "dedup_incremental_index_join",
    "graph_components_large_star",
    "pipeline_leakage_safe_split",
]

# one delegate per skew-sensitive family; every query here EXECUTES,
# and the ones in SKEW_ORACLED additionally hash-match their oracle
SKEW_DELEGATES = [
    "agg_salted_two_phase",
    "agg_hot_parts_top20",
    "events_sessionize",
    "events_rfm_segmentation",
    "dedup_minhash_lsh",
    "simsearch_lsh_bucketed",
    "streaming_session_window_replay",
    "text_token_stats",
    "dedup_keep_longest_per_group",
]

# oracle-parity subset: cheap enough for the gate budget, covering the
# fixed family plus the hot-key agg/join/window shapes.
# proj_string_ops and source_xml_roundtrip joined in r14 after the
# full-oracle sweep over this corpus (its 2x build) caught two value
# defects the r13 execute-only survey missed: ANSI CAST('') crash on
# digit-free sources (count() had PRUNED the projection, masking the
# crash) and XML reader whitespace trimming on trailing-space text
# (PERFORMANCE.md round 14).
SKEW_ORACLED = [
    "dedup_jaccard_pairs",
    "dedup_incremental_index_join",
    "agg_salted_two_phase",
    "agg_hot_parts_top20",
    "events_sessionize",
    "dedup_keep_longest_per_group",
    "proj_string_ops",
    "source_xml_roundtrip",
]


@pytest.mark.parametrize("name", FIXED_FAMILY + SKEW_DELEGATES)
def test_skew_corpus_executes(spark, skew_dir, name):
    from git_etl_spark import registry

    registry.load_all()
    n = registry.QUERIES[name](spark, skew_dir).count()
    assert n >= 0


@pytest.mark.parametrize("name", SKEW_ORACLED)
def test_skew_corpus_oracle_parity(spark, skew_dir, name):
    from .oracle_utils import compare_query

    compare_query(spark, name, skew_dir)
