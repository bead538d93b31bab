"""Registry/driver-contract guards: the verification surface itself is
load-bearing (the driver gates the FIRST 50 registry entries; COVERAGE.md
maps operators to query names), so drift in either is a silent
correctness-gate hole. These tests pin the contracts.

HERMETICITY INVARIANT (r11 verdict task 4 — two consecutive rounds a
test here flipped red the moment the driver landed the round's own
CORRECTNESS record): no test in this file may both read the real
on-disk CORRECTNESS history and pin a single-history-state expectation.
Every test that touches the real history asserts over BOTH states a
pinned window lives through — the planned state (history normalized to
before the window greened) and the greened-not-yet-rotated state (one
or MORE trailing rounds whose records fully green the window), the
latter simulated with synthetic records stacked on the NORMALIZED base
so the assertion is identical whether or not the driver has written
this round's record yet. Purely synthetic registries are used where the
real history adds nothing (test_rotation_next_uses_one_shared_bump)."""

import glob
import importlib
import inspect
import os
import re
import sys

import __spark_entry__ as entrymod
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import rotation_plan
from check_parity import dtype_mismatches, normalize

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}


def _normalize_state1(priority, records):
    """Strip consecutive trailing rounds whose record fully greens the
    pinned current window — the inverse of the driver landing 1+ green
    rounds before the rotation splice. The result is the same list
    whether pytest runs before or after this round's CORRECTNESS_r*.json
    appears, which is what makes history-reading tests hermetic."""
    window = list(priority)[:50]
    hist = sorted(records)
    while hist and rotation_plan._greens_window(hist[-1][1], window):
        hist = hist[:-1]
    return hist


def test_every_query_has_an_oracle_and_vice_versa():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(q) == set(o), (set(q) ^ set(o))
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())


def test_oracle_order_matches_query_order():
    """queries() and oracle_sql() are built from the same per-module
    REGISTRY tables, so they list the same names in the same order."""
    assert list(entrymod.oracle_sql()) == list(entrymod.queries())


def test_every_q_function_is_registered():
    """Every module-level ``q_*`` function of every query module is in the
    registry — a query with no registry row (no oracle, never driver-
    verified) cannot hide in a module."""
    pkg = os.path.join(REPO, "dataplatform_cdc_pipeline_spark")
    registered = set(entrymod.queries().values())
    unregistered = []
    for path in sorted(glob.glob(os.path.join(pkg, "queries*.py"))):
        mod = importlib.import_module(
            "dataplatform_cdc_pipeline_spark." + os.path.basename(path)[:-3]
        )
        unregistered += [
            f"{mod.__name__}.{name}"
            for name, fn in vars(mod).items()
            if name.startswith("q_")
            and inspect.isfunction(fn)
            and fn.__module__ == mod.__name__
            and fn not in registered
        ]
    assert not unregistered


#: The 13 §2 CDC core queries lead EVERY driver window (re-verified
#: every round by construction).
CORE_13 = [
    "cdc_window_scan", "cdc_dedup_latest", "cdc_cast_projection",
    "cdc_delete_survivorship", "cdc_merge_full", "cdc_merge_incremental",
    "cdc_merge_multi_pk", "cdc_merge_op_u", "cdc_merge_late_replay",
    "cdc_rowkey_timestamp", "cdc_watermark_stats", "cdc_bucket_pruned_read",
    "cdc_job_log",
]


def test_r12_driver_window_is_pinned():
    """The first 50 registry entries ARE the r12 correctness window the
    rotation-by-staleness plan schedules — an accidental reorder (e.g.
    inserting a new query mid-list) would silently swap what the driver
    verifies. r12 (per the r11 verdict, task 2) = 13 pinned core + the
    2 r11 promotions (the only never-driver-verified entries after the
    r11 drain — backlog 2 -> 0 once this window greens) + the 35
    stalest greens, exactly the splice rotation_plan.py --next derived
    from the r1-r11 history. Pure registry-order assertion — reads no
    history."""
    window = list(entrymod.queries())[:50]
    assert window[:13] == CORE_13
    # slots 14-15: the r11 promotions (incremental BM25 pair), never
    # driver-verified, lead
    assert window[13:15] == ["incremental_bm25_batch", "stream_bm25_index"]
    # slots 16-50: the 35 stalest greens (r5/r6-green cohort head)
    assert window[15:50] == [
        "stream_windowed_counts", "dedup_clusters", "embedding_ivf_topk",
        "top_orders_per_customer", "dedup_exact", "dedup_simhash",
        "dedup_ngram_jaccard", "embedding_topk", "cdc_snapshot_merge",
        "cdc_time_travel_read", "cdc_snapshot_diff", "cdc_debezium_ingest",
        "stream_debezium_merge", "cdc_zorder_read", "cdc_ivm_minmax",
        "stream_ivm_totals", "embedding_ivf_learned", "embedding_sq8_topk",
        "sq8_recall_eval", "embedding_ivf_sq8", "ivf_sq8_recall_eval",
        "semantic_dedup", "dedup_containment", "interdoc_repetition",
        "bigram_perplexity", "bpe_learn", "bpe_encode", "events_cube",
        "events_distinct_sketch", "events_value_percentiles",
        "heavy_hitters_cms", "customer_pareto", "fuzzy_name_match",
        "stream_distinct_sketch", "cdc_scd2_history",
    ]
    assert len(window) == len(set(window)) == 50


def test_r13_window_is_queued():
    """Steady-state rotation: the r13 window = 13 pinned core + the
    three r12 promotions (registry tail, never driver-verified) + the
    34 stalest greens at positions 51-84 — a mechanical splice again.
    Hermetic: plan_next is asserted over BOTH the full on-disk history
    AND the state-1-normalized history (the driver's pending r12 record
    only rewrites window entries' last-green rounds, which plan_next's
    shared bump overwrites anyway — this pins that equivalence so a
    future record shape can't silently break it)."""
    q = list(entrymod.queries())
    assert q[-3:] == [
        "cdc_compact_binpack", "stream_compact_runs", "bm25_index_erasure",
    ]
    expected_r13 = CORE_13 + q[-3:] + q[50:84]
    records = rotation_plan.correctness_records()
    assert rotation_plan.plan_next(q, records) == expected_r13
    assert rotation_plan.plan_next(q, _normalize_state1(q, records)) \
        == expected_r13
    # the 34 stalest greens r13 will refresh (r5/r6-green cohort tail)
    assert q[50] == "cdc_skipping_read" and q[83] == "csv_documents_ingest"


def test_rotation_derivation_matches_pinned_window():
    """check_current must agree with the pinned current window in EVERY
    history state a pinned window lives through (r10 verdict task 1;
    generalized per r11 verdict task 1 after single-strip variants broke
    pytest two rounds running):

    1. the real on-disk history, whatever state the driver left it in;
    2. the state-1-normalized base (as planned, before any greening);
    3. the base + ONE synthetic greening round (driver landed, rotation
       not yet spliced);
    4. the base + TWO consecutive synthetic greening rounds (driver
       landed twice against an unrotated window — the exact state that
       broke the r11 test once CORRECTNESS_r11.json appeared).

    States 3-4 stack on the NORMALIZED base, never the raw history, so
    the simulation is identical before and after the driver writes this
    round's record."""
    priority = list(entrymod.queries())
    records = rotation_plan.correctness_records()

    ok, which, _ = rotation_plan.check_current(priority, records)
    assert ok, which

    base = _normalize_state1(priority, records)
    ok, which, _ = rotation_plan.check_current(priority, base)
    assert ok, which

    mx = max((r for r, _ in base), default=0)
    window_green = {n: GREEN for n in priority[:50]}
    one = base + [(mx + 1, window_green)]
    ok, which, _ = rotation_plan.check_current(priority, one)
    assert ok, which

    two = one + [(mx + 2, window_green)]
    ok, which, _ = rotation_plan.check_current(priority, two)
    assert ok and f"r{mx + 1}" in which and f"r{mx + 2}" in which, which


def test_rotation_check_rejects_real_divergence():
    """The consecutive-strip walk must NOT vacuously match: it only
    peels rounds whose record fully greens the pinned window, so a
    genuinely mis-spliced window stays red. Synthetic registry: the
    pinned window omits the stalest entry (q0 green in r1 only), which
    every derivation would schedule first — no amount of stripping may
    hide that."""
    priority = [f"c{i}" for i in range(13)] + [f"q{i}" for i in range(47)]
    # q0 is the stalest green but sits OUTSIDE the pinned window
    # (registry order puts it at slot 14; rotate it to the tail)
    rotated = priority[:13] + priority[14:] + [priority[13]]
    records = [
        (1, {n: GREEN for n in priority}),
        (2, {n: GREEN for n in rotated[:50]}),  # greens the PINNED window
        (3, {n: GREEN for n in rotated[14:50]}),  # does NOT green it
    ]
    ok, which, _ = rotation_plan.check_current(rotated, records)
    assert not ok and which == "none"
    # sanity: the full-history derivation indeed diverges — the stale
    # r1-green cohort (q38.. then tail-rotated q0) must lead slot 14,
    # not the pinned window's re-greened q1
    derived = rotation_plan.derive_window(
        rotated, rotation_plan.last_green_rounds(records)
    )
    assert derived != rotated[:50] and derived[13] == "q38"


def test_rotation_next_uses_one_shared_bump():
    """--next must assign ONE shared synthetic round to all 50
    just-greened entries (ties broken by registry order — the
    documented contract). The r10 implementation recomputed the max
    inside the bump loop, giving distinct rounds M+1..M+50 instead of
    one shared M+1 (r10 ADVICE); this pins plan_next to the
    shared-bump reference computation on a synthetic registry."""
    priority = [f"c{i}" for i in range(13)] + [f"q{i}" for i in range(47)]
    nxt = {n: 1 for n in priority}
    bump = max(nxt.values()) + 1
    for n in priority[:50]:
        nxt[n] = bump
    expected = rotation_plan.derive_window(priority, nxt)
    records = [(1, {n: GREEN for n in priority})]
    assert rotation_plan.plan_next(priority, records) == expected
    # the 10 entries outside the current window (still round-1 green)
    # lead; the re-greened head follows in registry order
    assert expected[13:23] == priority[50:60]
    assert expected[23:50] == priority[13:40]


def test_registry_is_248_after_r12_promotion():
    """The r7-r9 freeze held the registry at 240 until the
    never-driver-verified backlog drained; the r9 verdict mandated the
    three r10 promotions (243), the r10 verdict the BM25 pair (245),
    and the r11 verdict (task 3) exactly the three staged maintenance/
    erasure queries — and nothing else — so the registry is now pinned
    at 248."""
    assert len(entrymod.queries()) == 248


def test_coverage_doc_names_only_real_queries():
    """Every `backticked_name` in COVERAGE.md that looks like a registry
    query (matches a knowns-prefix vocabulary) must exist in queries() —
    stale doc references rot the judge's map."""
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    q = set(entrymod.queries())
    prefixes = (
        "cdc_", "dedup_", "embedding_", "text_", "doc_", "token_", "corpus_",
        "contamination_", "gopher_", "multimodal_", "training_", "stream_",
        "events_", "customer_", "asof_", "value_", "props_", "order_",
        "small_", "top_", "min_", "market_", "sessionize_", "pricing_",
        "revenue_", "shipping_", "promo_", "large_", "discounted_", "sales_",
        "pii_", "quality_", "domain_", "ngram_", "vocab_", "cross_", "bm25_",
        "unigram_", "bigram_", "ann_", "ivf_", "semantic_", "sq8_",
        "heavy_", "fuzzy_", "bpe_", "incremental_",
    )
    mentioned = {
        m
        for m in re.findall(r"`([a-z0-9_]+)`", text)
        if m.startswith(prefixes) and not m.endswith(("_py", "_md"))
    }
    # helper/function names also appear in backticks; only enforce the
    # ones that LOOK like query ids (contain no parens and are snake_case
    # words the registry could plausibly hold) AND are not module members
    non_queries = {
        "cdc_table", "cdc_start_ts", "cdc_end_ts", "text_analysis",
        "text_dedup", "doc_id", "value_micros", "stream_merge",
        "ivf_topk",  # operator function (similarity.ivf_topk), not a query
    }
    unknown = {m for m in mentioned if m not in q and m not in non_queries}
    # allow operator/file references like dedup_clusters (also a query) —
    # anything left must be a genuine stale reference
    assert not unknown, f"COVERAGE.md names unknown queries: {sorted(unknown)}"


#: Lifecycle queries (index refit/erase, 2PC recovery, DV fold, compaction,
#: incremental BM25) whose results depend on multi-step operator state —
#: gated here at the test scale factor in addition to the local sweeps.
# queries whose operators have no other differential reference in the
# suite: the index/compaction lifecycles, and the queries that run the
# Arrow kernel of each LLM operator (its only implementation)
PARITY_NAMES = [
    "bm25_index_erasure", "cdc_compact_binpack", "dv_fold_crossover",
    "incremental_bm25_batch", "ivf_refit_lifecycle", "stream_bm25_index",
    "stream_compact_runs", "txn_recover_torn",
    "text_stats", "doc_fingerprint", "dedup_minhash_lsh", "dedup_simhash",
    "cross_corpus_dedup", "contamination_check", "embedding_near_dup",
    "embedding_kmeans",
]


@pytest.mark.parametrize("name", PARITY_NAMES)
def test_lifecycle_query_matches_oracle(spark, sf_dir, duck, name):
    """The driver's Spark-vs-DuckDB parity gate, at the test scale factor
    (sf0.001 default; SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for
    the driver's own scale)."""
    sdf = entrymod.queries()[name](spark, sf_dir).toPandas()
    odf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert not dtype_mismatches(sdf, odf)  # driver hash is dtype-sensitive
    assert len(sdf) == len(odf) > 0
    assert normalize(sdf) == normalize(odf)
