"""End-to-end pipeline test (M3): fetch → select → load → compress over
the FIXTURES.md §B fixtures, driven by the cfg.yaml-shaped DEFAULT_SPEC.
Verifies the reference's Main flow semantics (fetcher.bash:13-24) —
manifest selection, source dispatch, component decomposition, and
idempotent reruns (INSERT OR IGNORE)."""

from __future__ import annotations

from pathlib import Path

import pytest

from k8e_fetch_spark.plans.pipeline import Pipeline
from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

from k8e_fetch_spark.resources import fixtures_root

FIXTURES = fixtures_root()


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    return Pipeline(spark, DEFAULT_SPEC, str(tmp_path_factory.mktemp("warehouse")))


@pytest.fixture(scope="module")
def selected(pipe):
    versions = pipe.fetch_versions(str(FIXTURES / "manifest.json"))
    return pipe.select_keys(versions, "current_cycle")


def test_manifest_selection(selected):
    keys = {r["key"] for r in selected.collect()}
    assert "Snapshots/VR_Snapshot_20240514.zip" in keys
    assert "data/ncvoter_Statewide.zip" in keys
    assert "Elections/2024/Candidate_Listing_2024.csv" in keys
    assert "data/layout_ncvoter.txt" in keys  # synced (skip happens at load)
    assert "Elections/" not in keys  # op-dir-exclude
    assert "other/readme.md" not in keys  # no include regex matches
    # op-uniq + op-version-latest: the duplicate-key older version collapses
    assert len(keys) == len([r for r in selected.collect()])


@pytest.fixture(scope="module")
def tables(pipe, selected):
    paths = pipe.sync(selected, str(FIXTURES))
    return pipe.load(paths)


def test_load_dispatch(tables):
    assert set(tables) == {
        "vr_snapshot_20240514",
        "ncvoter_statewide",
        "candidate_listing_2022",
        "candidate_listing_2024",
    }  # layout_ncvoter.txt skipped (op-skip-unknown)
    assert tables["ncvoter_statewide"].count() == 4
    assert tables["vr_snapshot_20240514"].count() == 3


@pytest.fixture(scope="module")
def components(pipe, tables):
    return pipe.compress(tables)


def test_compress_components(components):
    assert set(components) == {"c_name", "c_phone", "c_status", "c_registr"}
    # c_status: distinct status codes across BOTH sources (A, I)
    assert {r["status_cd"] for r in components["c_status"].collect()} == {"A", "I"}
    # c_name: 3 distinct ncvoter (row 4 is an exact dup) + 3 vr, where
    # SMITH/JOHN/Q is byte-identical across sources -> merges once
    names = components["c_name"].collect()
    assert len(names) == 5
    last = {r["last_name"] for r in names}
    assert {"RENÉE", "RENEE", "MUÑOZ", "SMITH", "O'BRIEN"} == last


def test_compress_subst(components):
    # c_phone: area_cd||phone_num expression subst (cfg.yaml:26-27)
    phones = {r["ncid"]: r["full_phone_number"] for r in components["c_phone"].collect()}
    assert phones["AA1"] == "9195550101"
    # c_registr: vr side takes the 'NA' constant default, ncvoter side
    # passes registr_dt through (cfg.yaml:46-54 shape)
    reg = {(r["ncid"], r["registr_dt"]) for r in components["c_registr"].collect()}
    assert ("AA1", "NA") in reg  # from vr_snapshot subst
    assert ("AA1", "2002-03-04") in reg  # from ncvoter passthrough


def test_compress_idempotent(pipe, tables, components):
    """Rerunning compress (INSERT OR IGNORE) adds no rows."""
    before = {k: v.count() for k, v in components.items()}
    again = pipe.compress(tables)
    after = {k: v.count() for k, v in again.items()}
    assert before == after


def test_temporal_include_generates_mkfilter_set(spark):
    """MkFilter parity (current_cycle.bash:36-45): snapshots for
    {Y-1, Y}, election dirs for the 8-year judge term, statewide zips."""
    from k8e_fetch_spark.sources.manifest import read_manifest, select_keys, temporal_include

    pats = temporal_include(2024)
    assert "VR_Snapshot_2023" in pats and "VR_Snapshot_2024" in pats
    assert "Elections/2016" in pats and "Elections/2024" in pats
    assert "Elections/2015" not in pats
    assert r"_Statewide\.zip$" in pats

    versions = read_manifest(spark, str(FIXTURES / "manifest.json"))
    keys = {r["key"] for r in select_keys(versions, pats).collect()}
    assert "Snapshots/VR_Snapshot_20240514.zip" in keys
    assert "data/ncvoter_Statewide.zip" in keys
    assert "Elections/2022/Candidate_Listing_2022.csv" in keys
    assert "data/layout_ncvoter.txt" not in keys  # not in the temporal set


def test_sql_front_door(spark):
    """register_views makes the whole corpus addressable from plain
    spark.sql — run one of the oracle queries as raw SQL text."""
    from k8e_fetch_spark.io import register_views
    from tests.conftest import SF_DIR

    register_views(spark, SF_DIR)
    got = spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS n "
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"
    ).collect()
    assert len(got) >= 3 and all(r["n"] > 0 for r in got)


def test_stage_memoization_skip_load(spark, tmp_path):
    """FETCHER_SKIP_* analog: a prior run lands tables in the warehouse;
    a skip={'load'} rerun compresses straight from the landed parquet
    without touching the manifest or source files."""
    from k8e_fetch_spark.plans.pipeline import Pipeline
    from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

    wh = str(tmp_path / "wh")
    pipe = Pipeline(spark, DEFAULT_SPEC, wh)
    first = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    counts_first = {k: v.count() for k, v in first.items()}

    # tables-only run (skip compress), then compress from the warehouse
    pipe2 = Pipeline(spark, DEFAULT_SPEC, wh)
    again = pipe2.run(
        manifest_path="/nonexistent/manifest.json",  # must never be read
        data_dir="/nonexistent",
        skip=frozenset({"load"}),
    )
    counts_again = {k: v.count() for k, v in again.items()}
    assert counts_again == counts_first


def test_stage_memoization_skip_compress(spark, tmp_path):
    """skip={'compress'} returns the loaded tables without building
    components."""
    from k8e_fetch_spark.plans.pipeline import Pipeline
    from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

    pipe = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "wh"))
    tables = pipe.run(
        str(FIXTURES / "manifest.json"), str(FIXTURES), skip=frozenset({"compress"})
    )
    assert "ncvoter_statewide" in tables and "c_name" not in tables


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_pipeline_parquet_compaction_swaps_in_place(spark, tmp_path):
    """compact_target_mb on the default parquet format: content
    identical, single output file per (tiny) component, original flow
    untouched when the knob is off."""
    wh = tmp_path / "wh_compact"
    pipe = Pipeline(spark, DEFAULT_SPEC, str(wh), compact_target_mb=64)
    components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    for name, df in components.items():
        files = [
            p for p in (wh / name).rglob("*.parquet") if not p.name.startswith(("_", "."))
        ]
        assert len(files) == 1, (name, files)
    assert components["c_name"].count() == 5


def test_pipeline_front_door_occ_format(spark, tmp_path):
    """table_format='occ': same content as the plain-parquet flow, OCC
    layout on disk (the _OCC marker, NO pointer file — CAS-committed
    version chain), idempotent rerun (contained batch publishes
    nothing); with compact_target_mb, checkpointed to one base per
    table."""
    from k8e_fetch_spark.plans.snapshots import (
        _manifest_dirs,
        current_manifest,
        read_manifest_table,
    )

    ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"))
    ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))

    wh = tmp_path / "wh_occ"
    pipe = Pipeline(spark, DEFAULT_SPEC, str(wh), table_format="occ")
    components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    assert set(components) == set(ref_components)
    for name in components:
        cols = sorted(ref_components[name].columns)
        assert _rows(components[name], cols) == _rows(ref_components[name], cols), name
        tdir = wh / name
        assert (tdir / "_OCC").exists()
        assert not (tdir / "_CURRENT_MANIFEST").exists()
        assert current_manifest(tdir) == "manifest-000001.json"
    # rerun: content unchanged AND the version chain did not grow
    again = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    for name in again:
        cols = sorted(ref_components[name].columns)
        assert _rows(again[name], cols) == _rows(ref_components[name], cols)
        assert current_manifest(wh / name) == "manifest-000001.json"
    assert read_manifest_table(spark, wh / "c_name").count() == 5

    # compact_target_mb: the post-compress maintenance checkpoints each
    # table into one compacted base (same content); a rerun's merge is
    # a no-op (no new delta dir), and the superseded delta stays for
    # the retention window of the vacuum
    wh = tmp_path / "wh_occ_compact"
    pipe = Pipeline(
        spark, DEFAULT_SPEC, str(wh), table_format="occ", compact_target_mb=64
    )
    components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    deltas = {}
    for name in components:
        cols = sorted(ref_components[name].columns)
        assert _rows(components[name], cols) == _rows(ref_components[name], cols), name
        tdir = wh / name
        live = current_manifest(tdir)
        assert live == "manifest-000002.json"
        (base,) = _manifest_dirs(tdir, live)
        assert base.startswith("base-000002-")
        deltas[name] = sorted(p.name for p in tdir.iterdir() if p.name.startswith("delta-"))
        assert len(deltas[name]) == 1
    again = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    for name in again:
        cols = sorted(ref_components[name].columns)
        assert _rows(again[name], cols) == _rows(ref_components[name], cols)
        tdir = wh / name
        assert sorted(
            p.name for p in tdir.iterdir() if p.name.startswith("delta-")
        ) == deltas[name]
        (base,) = _manifest_dirs(tdir, current_manifest(tdir))
        assert base.startswith("base-000003-")


def test_pipeline_front_door_zorder_layout_all_formats(spark, tmp_path):
    """VERDICT r13 #7: fetch→compress→zorder lifecycle from the front
    door. zorder_by clusters each component that HAS the named columns
    (string keys — the sampled range-id path), leaves the others in
    their plain layout, and composes with compact_target_mb. Content
    identity against the plain-parquet flow on every table format;
    parquet additionally pins that the layout actually changed row
    order within the rewritten files (clustered, not pass-through)."""
    from k8e_fetch_spark.plans.snapshots import current_manifest, read_manifest_table

    ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"))
    ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    zcols = ["ncid", "last_name"]  # c_name has both; c_status has neither

    for fmt in ("parquet", "occ"):
        wh = tmp_path / f"wh_z_{fmt}"
        pipe = Pipeline(
            spark,
            DEFAULT_SPEC,
            str(wh),
            table_format=fmt,
            compact_target_mb=64,
            zorder_by=zcols,
        )
        components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
        assert set(components) == set(ref_components), fmt
        for name in components:
            cols = sorted(ref_components[name].columns)
            assert _rows(components[name], cols) == _rows(
                ref_components[name], cols
            ), (fmt, name)
        tdir = wh / "c_name"
        if fmt == "parquet":
            assert not (tdir / "_OCC").exists()
        else:
            assert current_manifest(tdir) is not None
            assert read_manifest_table(spark, tdir).count() == 5

    # the layout is real: on a larger synthetic component the rewritten
    # parquet orders rows by the interleaved bucket key, not input order
    from k8e_fetch_spark.operators.scale import (
        range_bucket_id,
        sampled_range_cuts,
        write_zordered_auto,
        zorder_key,
    )

    import random as _random

    rng = _random.Random(13)
    rows = [
        (f"id{rng.randrange(500):04d}", rng.choice("abcdefgh") * 3) for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, "ncid string, last_name string")
    out = str(tmp_path / "zcheck")
    write_zordered_auto(df, out, ["ncid", "last_name"], n_files=4)
    back = spark.read.parquet(out)
    k = lambda t: tuple((v is None, v) for v in t)
    assert sorted(map(tuple, back.collect()), key=k) == sorted(
        map(tuple, df.collect()), key=k
    )
    cuts = sampled_range_cuts(df, ["ncid", "last_name"])
    keyed = back.withColumn(
        "_zk",
        zorder_key(
            [
                range_bucket_id("ncid", cuts["ncid"]),
                range_bucket_id("last_name", cuts["last_name"]),
            ]
        ),
    )
    import pyspark.sql.functions as _F

    per_file = (
        keyed.groupBy(_F.spark_partition_id().alias("pid"))
        .agg(_F.min("_zk").alias("mn"), _F.max("_zk").alias("mx"))
        .collect()
    )
    spans = sorted((r.mn, r.mx) for r in per_file)
    assert len(spans) >= 3
    # range-partitioned on the key: file spans are (near-)disjoint —
    # each file covers a compact z segment, which is what footer
    # min/max pruning exploits
    overlaps = sum(
        1 for a, b in zip(spans, spans[1:]) if b[0] <= a[1]
    )
    assert overlaps <= 1, spans


def test_pipeline_front_door_occ_over_conditional_put(spark, tmp_path):
    """--cas-endpoint (r14): the OCC pipeline with EVERY manifest
    commit travelling over an object store's conditional PUT — content
    and version chain identical to the link-CAS run; the endpoint saw
    only 201 wins (no conflicts in a serial run); a non-occ format
    refuses the backend loudly."""
    import http.server
    import threading

    import pytest as _pytest

    from k8e_fetch_spark.plans.cas import ConditionalPutCas
    from k8e_fetch_spark.plans.snapshots import current_manifest
    from test_cas import _make_store_handler

    responses: list[int] = []
    server = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _make_store_handler(responses)
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        cas = ConditionalPutCas(f"http://127.0.0.1:{server.server_address[1]}")
        ref = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "ref"), table_format="occ")
        ref_components = ref.run(str(FIXTURES / "manifest.json"), str(FIXTURES))

        wh = tmp_path / "wh_occ_http"
        pipe = Pipeline(
            spark, DEFAULT_SPEC, str(wh), table_format="occ", cas=cas
        )
        components = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
        assert set(components) == set(ref_components)
        for name in components:
            cols = sorted(ref_components[name].columns)
            assert _rows(components[name], cols) == _rows(
                ref_components[name], cols
            ), name
            assert current_manifest(wh / name) == "manifest-000001.json"
        # one 201 win per component table, zero conflicts
        assert responses == [201] * len(components)
    finally:
        server.shutdown()
        t.join(timeout=5)
    with _pytest.raises(ValueError, match="occ"):
        Pipeline(
            spark, DEFAULT_SPEC, str(tmp_path / "bad"), table_format="parquet", cas=cas
        )


def test_compress_merges_each_component_once(spark, tmp_path, monkeypatch):
    """compress builds each component's batch from every matched source
    and merges it ONCE: two sources feed each of the four components in
    the packaged fixtures, yet a first run needs no insert_ignore (there
    is no existing table to anti-join against) and a rerun calls it
    once per component."""
    import k8e_fetch_spark.plans.pipeline as pipeline_mod

    calls = []
    real = pipeline_mod.insert_ignore

    def spy(existing, new):
        calls.append(1)
        return real(existing, new)

    monkeypatch.setattr(pipeline_mod, "insert_ignore", spy)
    pipe = Pipeline(spark, DEFAULT_SPEC, str(tmp_path / "wh"))
    first = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    assert len(first) == 4 and len(calls) == 0
    again = pipe.run(str(FIXTURES / "manifest.json"), str(FIXTURES))
    assert len(calls) == 4
    assert again["c_name"].count() == 5


def test_pipeline_runs_off_repo_without_pythonpath(tmp_path):
    """A driver that found the package through ``sys.path`` (not an
    install, not the working directory) runs the whole pipeline: the
    Python decode workers get the package shipped to them. Runs in a
    fresh process whose working directory is outside the repo and whose
    environment has no PYTHONPATH."""
    import os
    import subprocess
    import sys
    import textwrap

    prog = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from k8e_fetch_spark.plans.pipeline import Pipeline
        from k8e_fetch_spark.plans.spec import DEFAULT_SPEC
        from k8e_fetch_spark.resources import fixtures_root
        from k8e_fetch_spark.session import get_spark

        spark = get_spark(app_name="off-repo-pipeline", cpus=2, shuffle_partitions=2)
        fx = fixtures_root()
        comps = Pipeline(spark, DEFAULT_SPEC, "wh").run(str(fx / "manifest.json"), str(fx))
        print("c_name rows:", comps["c_name"].count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", prog, str(Path(__file__).resolve().parents[1])],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "c_name rows: 5" in proc.stdout
