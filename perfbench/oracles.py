"""Expected outputs, computed on DuckDB from the recipe SQL.

The oracles read a ``documents`` relation of the ``doc_id``s in
``[lo, hi)`` — the ids the Spark side expands into transcripts.  One
per-conversation, per-predicate triple query yields both the
per-predicate counts and the set of conversations that get a Turtle
document.  That query costs ~16 s of DuckDB planning whatever the
size, so it runs on a background thread started before the Spark
session, and every result is cached on disk per doc-id range.
"""

from __future__ import annotations

import json
import os
import threading
from collections import Counter


def _query(lo: int, hi: int, sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")  # leave the cores to Spark
        con.execute(f"CREATE VIEW documents AS "
                    f"SELECT range AS doc_id FROM range({lo}, {hi})")
        return con.execute(sql).fetchall()
    finally:
        con.close()


class Oracles:
    """Cached oracle results for the doc ids ``[lo, hi)``."""

    def __init__(self, cache_dir: str, lo: int, hi: int):
        self.cache_dir = cache_dir
        self.lo, self.hi = lo, hi
        self._per_conv: dict[str, dict[str, int]] | None = None
        self._error: BaseException | None = None
        self._thread: threading.Thread | None = None
        os.makedirs(cache_dir, exist_ok=True)

    def _cached(self, key: str, compute):
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        with open(path + f".{os.getpid()}.tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + f".{os.getpid()}.tmp", path)
        return value

    def _load_per_conv(self) -> None:
        from gg2rdf_spark.sources import kgoracle

        def compute():
            out: dict[str, dict[str, int]] = {}
            sql = kgoracle.kg_triples_by_pred_sql("documents", per_conv=True)
            for conv, pred, n in _query(self.lo, self.hi, sql):
                out.setdefault(conv, {})[pred] = int(n)
            return out

        try:
            self._per_conv = self._cached(
                f"per_conv-{self.lo}-{self.hi}", compute)
        except BaseException as e:  # re-raised by per_conv()
            self._error = e

    def start(self) -> None:
        """Start computing the per-conversation oracle in the
        background."""
        self._thread = threading.Thread(target=self._load_per_conv,
                                        daemon=True)
        self._thread.start()

    def wait(self) -> None:
        if self._thread is None:
            self.start()
        self._thread.join()

    def per_conv(self) -> dict[str, dict[str, int]]:
        self.wait()
        if self._error is not None:
            raise self._error
        return self._per_conv

    def triples_by_pred(self) -> dict[str, int]:
        total: Counter = Counter()
        for preds in self.per_conv().values():
            total.update(preds)
        return dict(total)

    def ttl_convs(self) -> list[str]:
        """Conversations with at least one triple get one document."""
        return sorted(self.per_conv())

    def status_counts(self) -> dict[str, int]:
        from gg2rdf_spark.sources import kgoracle

        return self._cached(f"status-{self.lo}-{self.hi}", lambda: {
            str(int(s)): int(n) for s, n in _query(
                self.lo, self.hi, kgoracle.kg_status_counts_sql("documents"))})

    def links(self) -> list[list[str]]:
        import __spark_entry__

        return self._cached(f"links-{self.lo}-{self.hi}", lambda: sorted(
            [c, k, e] for c, k, e, _score in _query(
                self.lo, self.hi, __spark_entry__._linking_oracle())))
