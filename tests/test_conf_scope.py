"""Session-conf ownership: every SQL conf write in the engine goes through
``session.py``, and scoped writes always restore and never interleave."""

from __future__ import annotations

import glob
import os
import threading
import time

import pytest

from floorist_spark.session import scoped_conf

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "floorist_spark")

KEY = "spark.sql.cteRecursionLevelLimit"


def test_conf_writes_only_in_session_module():
    writers = sorted(
        os.path.relpath(p, PKG)
        for p in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        if "conf.set(" in open(p).read()
    )
    assert writers == ["session.py"]


def test_scoped_conf_restores_on_error(spark):
    before = spark.conf.get(KEY)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, KEY, lambda old: int(old) + 5) as old:
            assert old == before
            assert spark.conf.get(KEY) == str(int(before) + 5)
            raise RuntimeError("body failed")
    assert spark.conf.get(KEY) == before


def test_scoped_conf_windows_never_interleave(spark):
    """Two threads raising the same conf: each sees the unscoped value as
    the one it replaces, so the session ends where it started."""
    before = spark.conf.get(KEY)
    inside = threading.Event()
    seen = []

    def hold():
        with scoped_conf(spark, KEY, 500):
            inside.set()
            time.sleep(0.3)

    t = threading.Thread(target=hold)
    t.start()
    assert inside.wait(30)
    with scoped_conf(spark, KEY, 700) as old:
        seen.append(old)
    t.join(30)
    assert not t.is_alive()
    assert seen == [before]
    assert spark.conf.get(KEY) == before
