"""Driver-harness invariants over EVERY declared query.

The grading driver canonicalizes each result with pandas
``sort_values`` + ``factorize`` before hashing; both raise
``TypeError: unhashable type`` on cells holding Python lists/dicts
(Spark ``array``/``map``/``struct`` columns arrive as lists / dicts /
Row objects through ``toPandas``). Round 7 burned its only red driver
row on exactly this (``mm_decode_video_real`` declared a raw
``array<int>`` column). This module makes that class of failure a
pytest failure instead of a wasted driver round: no declared query may
expose a nested-typed column — serialize with ``F.to_json`` (the
convention ``mm_decode_meta`` established).

Schema inspection is lazy (no job runs for batch plans), so this pass
over all ~141 declared queries is cheap; the streaming queries execute
their availableNow micro-batch on construction, which the rest of the
suite already pays for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from k8e_fetch_spark.queries import REGISTRY, queries
from tests.conftest import SF_DIR

queries()  # force registration


_UNHASHABLE = (T.ArrayType, T.MapType, T.StructType)


def _all_names():
    return list(REGISTRY)


@pytest.mark.parametrize("name", _all_names())
def test_declared_schema_is_driver_hashable(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, _UNHASHABLE)
    ]
    assert not bad, (
        f"{name}: columns {bad} have nested types the driver's "
        "canonicalizer cannot hash (pandas factorize fails on "
        "list/dict cells) — serialize them with F.to_json, matching "
        "the oracle's string rendering"
    )


# The r9 lesson (sim_hybrid_search): a hash-green row over an EMPTY
# result proves nothing — the oracle and the query can both return zero
# rows while the operator under test never fires. Generalized here the
# same way r8 generalized the hashability lesson: every declared query
# must return at least one row at the driver's correctness SF. A query
# whose correct output is legitimately empty must opt in explicitly.
_EMPTY_OK: frozenset[str] = frozenset(
    {
        # op-schema-clone IS "CREATE TABLE ... LIMIT 0" (fetcher.bash:157):
        # zero rows is the operator's entire contract; the schema compare
        # still runs against the WHERE FALSE oracle.
        "compress_schema_clone",
    }
)


@pytest.mark.parametrize("name", _all_names())
def test_declared_result_is_non_vacuous(spark, name):
    if name in _EMPTY_OK:
        pytest.skip("legitimately-empty output, allowlisted")
    from tests.conftest import SF_DIR_MID

    q = REGISTRY[name]
    n = q.fn(spark, SF_DIR_MID).limit(1).count()
    assert n > 0, (
        f"{name}: returns ZERO rows at sf0.01 — a green driver row "
        "over an empty result is vacuous (the r9 sim_hybrid_search "
        "lesson); make the fixture/selection produce rows or allowlist "
        "the query in _EMPTY_OK with a rationale"
    )


def test_compaction_pool_rows_hold_no_seats_outside_ordered_refresh():
    """The r11 seat-compaction contract (amended r16): rows whose
    semantics are subsumed by a seated natural-corpus full-oracle row
    stay registered (parity coverage above) and occupy correctness-
    window seats ONLY during a verdict-ordered evidence-refresh round
    (VERDICT r15 #2 ordered one for r16). During a refresh round the
    rotation comment must cite the ordering verdict; outside one the
    exclusion is total. Every subsuming row must itself be registered
    with a full oracle."""
    import inspect

    from k8e_fetch_spark.queries import registry
    from k8e_fetch_spark.queries.registry import (
        COMPACTION_POOL,
        COMPACTION_REFRESH_ROUND,
        COMPACTION_REFRESH_VERDICT,
        REGISTRY,
        _PRIORITY,
        _ensure_loaded,
    )

    _ensure_loaded()
    seated = COMPACTION_POOL & set(_PRIORITY)
    # ADVICE r16: the flag is DERIVED from the ordering-verdict citation
    # (one source of truth), and a stale flag cannot hide — pool rows
    # seated require the citation, and a set citation with NO seated
    # pool row is itself a failure (the refresh round is over; flip
    # COMPACTION_REFRESH_VERDICT back to None when recomposing).
    assert COMPACTION_REFRESH_ROUND == (COMPACTION_REFRESH_VERDICT is not None)
    if seated:
        assert COMPACTION_REFRESH_VERDICT is not None, (
            f"pool rows {sorted(seated)} hold seats outside a "
            "verdict-ordered refresh round"
        )
        # the ordering verdict must be cited next to the seats too —
        # the defining assignment alone doesn't count, so require a
        # second occurrence (the rotation-comment citation)
        src = inspect.getsource(registry)
        assert src.count(COMPACTION_REFRESH_VERDICT) >= 2, (
            f"rotation comment must cite {COMPACTION_REFRESH_VERDICT!r}"
        )
    else:
        assert COMPACTION_REFRESH_VERDICT is None, (
            "stale refresh flag: no pool row is seated but "
            f"COMPACTION_REFRESH_VERDICT={COMPACTION_REFRESH_VERDICT!r}"
        )
    # still registered, still checkable
    for n in COMPACTION_POOL:
        assert n in REGISTRY, n
    for subsumer in (
        "dedup_minhash_lsh",
        "sim_cosine_lsh",
        "dedup_simhash",
        "sim_topk_ivf",
        "dedup_clusters_minhash",
        "text_decontaminate_bloom",
    ):
        assert REGISTRY[subsumer].oracle is not None, subsumer


def test_write_side_effect_queries_stay_closed():
    """VERDICT r10/r11 watch item, made a code contract (r12): declared
    queries that WRITE anywhere (ephemeral table dirs, warehouse bucket
    tables, streaming sink dirs) are a known, per-uid/fingerprint-
    isolated set. A new query that grows write side effects must be
    added here DELIBERATELY — silent growth of the set is what the
    audit exists to catch. Detection is source-level (the original
    registered functions, markers for every write path the repo uses),
    so a helper rename that hides a write fails loudly as a set
    mismatch rather than slipping through."""
    import importlib
    import inspect

    from k8e_fetch_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    ALLOWED = {
        # ephemeral mkdtemp table dirs (atexit-cleaned, per-process)
        "compress_insert_ignore_occ",  # OCC manifest-table lifecycle
        "maintenance_compact_small_files",
        "maintenance_zorder_layout",
        # warehouse bucket tables / fixture trees (fingerprint-isolated,
        # rebuilt only on source change)
        "join_bucketed_colocated",
        "catalog_flatten_tree",
        "mm_jvm_image_decode",  # r13: PNG fixture tree for the JVM image source
        # availableNow stream drains (per-uid sink + checkpoint dirs)
        "stream_dedup_redelivery",
        "stream_enrich_dimension",
        "stream_join_attribution",
        "stream_session_window",
        "stream_session_window_append",
        "stream_stateful_user_stats",
        "stream_tumbling_available_now",
        "stream_anomaly_zscore",  # r15: stateful z-score gate drain
        "stream_scd2_chain",  # r16: CDC drain + per-step parquet state table
        "stream_scd2_tombstones",  # r17: tombstone CDC drain + retained state steps
        # r18: persisted-minhash-store dedup stream (store manifest
        # tables + per-batch pair ledger + checkpoint, all under one
        # atexit-cleaned mkdtemp)
        "stream_dedup_incremental_minhash",
    }
    MODS = [
        "catalog_ops", "compress_ops", "multimodal_ops", "relational",
        "relational_ext", "relational_tpch", "similarity",
        "streaming_ops", "text_ops",
    ]
    mods = [importlib.import_module(f"k8e_fetch_spark.queries.{m}") for m in MODS]
    markers = (
        "mkdtemp", ".write.", "saveAsTable", "writeStream", "_drain",
        "copy_from", "copy_into", "foreachPartition",
    )
    found = set()
    for name, q in REGISTRY.items():
        fn = next(
            (getattr(m, q.fn.__name__) for m in mods if hasattr(m, q.fn.__name__)),
            None,
        )
        assert fn is not None, f"could not locate source for {name}"
        src = inspect.getsource(fn)
        if any(mk in src for mk in markers):
            found.add(name)
    assert found == ALLOWED, (
        f"write-side-effect set drifted: new={sorted(found - ALLOWED)} "
        f"removed={sorted(ALLOWED - found)}"
    )


def test_wrapper_pins_escaped_string_literals(spark):
    """r18: parsed-SQL operator forms (F.expr regex literals like
    '\\s+') assume the default backslash-escaping parse. The registry
    wrapper must reset a session that flipped
    spark.sql.parser.escapedStringLiterals=true — and must do it
    CONDITIONALLY (an unconditional set of this deprecated conf logs a
    Spark warning on every query). r19 (VERDICT r18 #8): the pin is
    also RESTORED after fn returns — parsing happens inside fn, so the
    caller gets its parser mode back — and the probe comparison is
    case-insensitive (ADVICE r18: builder .config can deliver "True")."""
    from k8e_fetch_spark.queries import REGISTRY

    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key, "false")
    try:
        # mixed case: Spark treats "True" as true, the guard must too
        spark.conf.set(key, "True")
        # any registry fn routes through the wrapper; a parsed-SQL one
        # proves end-to-end that the reset precedes expression parsing
        df = REGISTRY["dedup_substring_spans"].fn(spark, "/root/testdata/sf0.001")
        # caller conf unchanged after the declared query returns
        assert spark.conf.get(key) == "true"
        # the regex literal parsed as \s+ (not literal backslash-s)
        # DESPITE the session flag, because the reset was live during
        # fn's eager expression parse: tokenization found real tokens
        assert df.agg({"n_tokens": "max"}).collect()[0][0] > 1
    finally:
        spark.conf.set(key, before)
