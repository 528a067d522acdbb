"""Driver-contract checks that need no Spark session: the scratch-dir
reclamation, the query/oracle pairing and the oracle name perfbench
imports."""

import os
import subprocess
import sys
import tempfile

import __spark_entry__ as E
from gg2rdf_spark.sources import kgoracle


def test_scratch_dir_reclaims_only_dead_drivers(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # exited and reaped: its pid names no process now
    root = tmp_path / f"gg2rdf_driver_scratch_u{os.getuid()}"
    dead = root / f"p{child.pid}" / "sink"
    live = root / f"p{os.getpid()}" / "other_sink"
    dead.mkdir(parents=True)
    live.mkdir(parents=True)

    path = E._scratch_dir("sink")

    assert not (root / f"p{child.pid}").exists()
    assert live.is_dir()
    assert path == str(root / f"p{os.getpid()}" / "sink")


def test_permission_denied_counts_as_alive(monkeypatch):
    def kill(pid, sig):
        raise PermissionError(pid)

    monkeypatch.setattr(E.os, "kill", kill)
    assert E._alive(1)


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())
    assert len(E.queries()) == 9


def test_linking_oracle_keeps_its_old_name():
    assert E._linking_oracle() == kgoracle.linking_sql()
