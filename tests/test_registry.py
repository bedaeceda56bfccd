"""The query registry and its oracles stay aligned (no Spark session)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402


def test_queries_and_oracles_share_keys_in_order():
    assert list(entrymod.queries()) == list(entrymod.oracle_sql())


def test_crawl_wave_crawls_the_oracles_corpus(monkeypatch):
    """crawl_wave_e2e's oracle replays one fixed corpus (oracle_sql() takes
    no scale), so the query must crawl that corpus at every sf_dir."""
    import webscraper_spark.sources.synth as synth

    asked = []

    def fake_materialize(spark, sf, out_dir, *a, **k):
        asked.append(out_dir)
        raise RuntimeError("stop before the crawl")

    monkeypatch.setattr(synth, "materialize_corpus", fake_materialize)
    with pytest.raises(RuntimeError, match="stop before the crawl"):
        entrymod._q_crawl_wave(None, "sf0.001")
    assert len(asked) == 1
    assert f"read_parquet('{asked[0]}/pages/" in entrymod._sql_crawl_wave()


def test_checkpoint_dirs_removed_at_exit(tmp_path):
    code = (
        "import __spark_entry__ as e, os\n"
        "for p in ('entry_ckpt_', 'qcrawl_'):\n"
        "    d = e._ckpt_dir(p)\n"
        "    assert os.path.isdir(d) and os.path.dirname(d) == os.environ['TMPDIR'], d\n"
        "    open(os.path.join(d, 'part-0.parquet'), 'wb').close()\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    subprocess.run([sys.executable, "-c", code], env=env, cwd=ROOT, check=True, timeout=120)
    assert list(tmp_path.iterdir()) == []
