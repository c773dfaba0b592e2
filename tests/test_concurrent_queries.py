"""Several registry queries sharing one session at once.

The driver's session outlives every query, so queries built and run
from concurrent threads must neither disturb each other's results nor
see a session config another query changed while it ran."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from tools.check_oracle import df_to_rows, rows_equal

from .conftest import SF_SMOKE

NAMES = ["dedup_keep_best", "dedup_minhash_lsh", "dedup_ngram_jaccard", "tpch_q5ish"]
CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def test_concurrent_queries_match_sequential_and_leave_confs_alone(spark):
    from rc_scanner_spark.operators.dedup import release_caches
    from rc_scanner_spark.queries import build_registry

    registry = build_registry()

    def run(name):
        return df_to_rows(registry[name].fn(spark, SF_SMOKE).toPandas())

    release_caches()
    sequential = {name: run(name) for name in NAMES}
    release_caches()

    before = tuple(spark.conf.get(k) for k in CONFS)
    samples = []
    done = threading.Event()

    def watch():
        while not done.is_set():
            samples.append(tuple(spark.conf.get(k) for k in CONFS))

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        with ThreadPoolExecutor(len(NAMES)) as pool:
            concurrent = dict(zip(NAMES, pool.map(run, NAMES)))
    finally:
        done.set()
        watcher.join(timeout=60)
        release_caches()

    assert not watcher.is_alive() and samples
    assert {s for s in samples if s != before} == set()
    for name in NAMES:
        cols, rows = concurrent[name]
        assert cols == sequential[name][0], name
        ok, why = rows_equal(rows, sequential[name][1])
        assert ok, f"{name}: {why}"
