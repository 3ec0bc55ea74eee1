"""The command front door (parity with ``fetcher.bash [group]``).

``main()`` is called in-process: get_spark()'s getOrCreate returns the
test session, so no second JVM spins up. ``spark.stop()`` inside main
is tolerated because the conftest session fixture is module-scoped per
pytest run — so these tests run LAST via their own session fixture
usage pattern: we pass through the live session and monkeypatch stop.
"""

from __future__ import annotations

import pytest

from k8e_fetch_spark import cli


@pytest.fixture()
def no_stop(spark, monkeypatch):
    """main() stops the session it thinks it owns; keep the shared test
    session alive."""
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    return spark


def test_cli_list(capsys):
    assert cli.main(["list"]) == 0
    out = capsys.readouterr().out
    assert "* tpch_q1_pricing_summary" in out
    # rows-only: no star. Use a PERMANENTLY rows-only query — real-zlib
    # compression cannot be recomputed by DuckDB in principle (the LSH
    # twins this assertion used to point at kept getting promoted)
    assert "  text_compression_ratio" in out


def test_cli_query_runs(no_stop, capsys):
    assert cli.main(["query", "compress_distinct_status", "--show", "3"]) == 0
    assert "status" in capsys.readouterr().out


def test_cli_query_unknown(no_stop, capsys):
    assert cli.main(["query", "no_such_query"]) == 2
    assert "unknown query" in capsys.readouterr().err


def test_cli_pipeline_defaults_to_fixtures(no_stop, tmp_path, capsys):
    assert cli.main(["pipeline", "--warehouse", str(tmp_path / "wh")]) == 0
    out = capsys.readouterr().out
    assert "c_name: 5 rows" in out
    assert "c_status:" in out


def test_cli_bench_dispatches_to_packaged_runner(monkeypatch):
    """`bench` must resolve from the installed package, not a repo-root
    file (the wheel has no bench.py) — dispatch is to
    k8e_fetch_spark.bench_runner.main."""
    import k8e_fetch_spark.bench_runner as br

    called = []
    monkeypatch.setattr(br, "main", lambda: called.append(True))
    assert cli.main(["bench"]) == 0
    assert called == [True]


def test_cli_pipeline_cas_endpoint_requires_occ(capsys):
    """--cas-endpoint with a non-occ --table-format is a CLI usage
    error (exit 2 via parser.error), not a Pipeline.__init__
    traceback (ADVICE r14)."""
    with pytest.raises(SystemExit) as exc:
        cli.main([
            "pipeline", "--warehouse", "/tmp/w",
            "--table-format", "parquet",
            "--cas-endpoint", "http://localhost:9999",
        ])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "cas backend requires table_format='occ'" in err


@pytest.mark.parametrize("fmt", ["snapshot", "manifest"])
def test_cli_pipeline_rejects_retired_table_formats(fmt, capsys):
    """--table-format accepts exactly parquet and occ; the retired
    snapshot-pointer and pointer-manifest layouts are usage errors, and
    the library refuses them too."""
    from k8e_fetch_spark.plans.pipeline import Pipeline
    from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

    with pytest.raises(SystemExit) as exc:
        cli.main(["pipeline", "--warehouse", "/tmp/w", "--table-format", fmt])
    assert exc.value.code == 2
    assert "invalid choice" in capsys.readouterr().err
    with pytest.raises(ValueError, match=r"parquet\|occ"):
        Pipeline(None, DEFAULT_SPEC, "/tmp/w", table_format=fmt)
