"""served_store: the one per-process cache behind every store-serving
query row. Spark-free: each ``build`` only writes a marker file."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from etl_database_spark.queries import served_store

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def sf_dir(tmp_path, monkeypatch):
    """A fixture dir with a documents table, and store dirs created in
    a private temp root."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1")
    os.utime(sf / "documents.parquet", (1_000_000, 1_000_000))
    return str(sf)


class Builder:
    def __init__(self):
        self.dirs: list[str] = []

    def __call__(self, tmp_dir: str):
        with open(os.path.join(tmp_dir, "marker"), "w") as f:
            f.write("built")
        self.dirs.append(tmp_dir)
        return object()


def test_same_key_returns_cached_value_without_rebuilding(sf_dir):
    build = Builder()
    first = served_store(sf_dir, "documents", "spark_graft_t_same_", build)
    second = served_store(sf_dir, "documents", "spark_graft_t_same_", build)
    assert second is first
    assert len(build.dirs) == 1
    assert os.path.basename(build.dirs[0]).startswith("spark_graft_t_same_")
    assert os.path.exists(os.path.join(build.dirs[0], "marker"))


def test_new_source_mtime_rebuilds_and_deletes_old_dir(sf_dir):
    build = Builder()
    first = served_store(sf_dir, "documents", "spark_graft_t_mtime_", build)
    os.utime(os.path.join(sf_dir, "documents.parquet"), (2_000_000, 2_000_000))
    second = served_store(sf_dir, "documents", "spark_graft_t_mtime_", build)
    assert second is not first
    assert len(build.dirs) == 2
    assert not os.path.exists(build.dirs[0])
    assert os.path.exists(os.path.join(build.dirs[1], "marker"))
    assert served_store(sf_dir, "documents", "spark_graft_t_mtime_", build) is second


def test_prefixes_on_one_sf_dir_do_not_evict_each_other(sf_dir):
    a, b = Builder(), Builder()
    va = served_store(sf_dir, "documents", "spark_graft_t_a_", a)
    vb = served_store(sf_dir, "documents", "spark_graft_t_b_", b)
    assert served_store(sf_dir, "documents", "spark_graft_t_a_", a) is va
    assert served_store(sf_dir, "documents", "spark_graft_t_b_", b) is vb
    assert len(a.dirs) == len(b.dirs) == 1
    assert os.path.exists(a.dirs[0]) and os.path.exists(b.dirs[0])


def test_failed_build_leaves_no_dir_and_no_entry(sf_dir):
    made = []

    def boom(tmp_dir):
        made.append(tmp_dir)
        raise RuntimeError("replay guard tripped")

    with pytest.raises(RuntimeError):
        served_store(sf_dir, "documents", "spark_graft_t_fail_", boom)
    assert not os.path.exists(made[0])
    build = Builder()
    served_store(sf_dir, "documents", "spark_graft_t_fail_", build)
    assert len(build.dirs) == 1


def test_process_exit_removes_every_store_dir(tmp_path):
    """A process that builds two stores and exits normally leaves
    neither dir behind in its temp root."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1")
    (sf / "events.parquet").write_bytes(b"v1")
    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    script = (
        "import os, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from etl_database_spark.queries import served_store\n"
        "def build(d):\n"
        "    open(os.path.join(d, 'marker'), 'w').close()\n"
        "    print(d)\n"
        "    return d\n"
        f"served_store({str(sf)!r}, 'documents', 'spark_graft_t_exit_a_', build)\n"
        f"served_store({str(sf)!r}, 'events', 'spark_graft_t_exit_b_', build)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_root))
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        check=True,
    ).stdout.split()
    assert len(out) == 2
    assert all(d.startswith(str(tmp_root)) for d in out)
    assert [d for d in out if os.path.exists(d)] == []
    assert os.listdir(tmp_root) == []
