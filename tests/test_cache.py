"""The memo store (`fefal_etl_spark.cache`) and the staging reuse rules.

Covers the store's contract (key shape, fingerprint bypass, dead-
application sweep, LRU bound, frame ownership, counters), the staging
sweep's age and name rules, stale-state regressions on rewritten
fixtures, and a guard against module-level caches growing back outside
``cache.py``.
"""

import ast
import os
import pathlib
import shutil
import time
from types import SimpleNamespace

import pytest

from fefal_etl_spark import cache

SF = "/root/testdata/sf0.001"
PKG = pathlib.Path(__file__).resolve().parent.parent / "fefal_etl_spark"


def _app(app_id: str):
    """Stand-in for a SparkSession of another (e.g. dead) application."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Frame:
    """Stand-in for a persisted DataFrame: logs its unpersist calls."""

    def __init__(self, log: list, tag: str):
        self.log, self.tag = log, tag

    def unpersist(self):
        self.log.append(self.tag)


# ----------------------------------------------------------------------
# store contract
# ----------------------------------------------------------------------


def test_memo_key_fingerprint_counters_and_lru(spark):
    log, builds = [], []

    def build(tag):
        def run():
            builds.append(tag)
            return _Frame(log, tag)

        return run

    hits, misses = cache.counts("t_lru")
    fp = ["v1"]
    a = cache.memo(spark, "t_lru", "a", build("a1"), cap=2,
                   fingerprint=lambda: fp[0], frames=lambda f: [f])
    assert cache.memo(spark, "t_lru", "a", build("a2"), cap=2,
                      fingerprint=lambda: fp[0], frames=lambda f: [f]) is a
    assert builds == ["a1"]
    assert cache.counts("t_lru") == (hits + 1, misses + 1)
    # a new fingerprint for the same key is a miss; the stale entry is
    # dropped and its frame unpersisted
    fp[0] = "v2"
    a2 = cache.memo(spark, "t_lru", "a", build("a2"), cap=2,
                    fingerprint=lambda: fp[0], frames=lambda f: [f])
    assert a2 is not a and log == ["a1"]
    # the cap evicts the least recently used entry
    cache.memo(spark, "t_lru", "b", build("b"), cap=2, frames=lambda f: [f])
    cache.memo(spark, "t_lru", "c", build("c"), cap=2, frames=lambda f: [f])
    app = spark.sparkContext.applicationId
    assert cache.keys("t_lru") == [(app, "b"), (app, "c")]
    assert log == ["a1", "a2"]
    cache.release("t_lru")
    assert cache.keys("t_lru") == [] and sorted(log) == ["a1", "a2", "b", "c"]


def test_memo_bypasses_store_when_fingerprint_unreadable(spark, monkeypatch):
    """A fingerprint that raises OSError means the source cannot be keyed:
    every call builds fresh and nothing is stored (a None fingerprint
    used to be cached as if it were a key)."""

    def unreadable(*_a):
        raise FileNotFoundError("gone")

    hits, misses = cache.counts("t_bypass")
    one = cache.memo(spark, "t_bypass", "k", object, cap=4, fingerprint=unreadable)
    two = cache.memo(spark, "t_bypass", "k", object, cap=4, fingerprint=unreadable)
    assert one is not two
    assert cache.counts("t_bypass") == (hits, misses + 2)
    assert cache.keys("t_bypass") == []

    # the same rule on a registry plan: the builder reruns every call
    import fefal_etl_spark.queries as q

    fn = q.get_queries()["null_semantics_suite"]
    assert fn.memo
    stored = cache.keys("plan")
    monkeypatch.setattr(q, "source_fingerprint", unreadable)
    assert fn(spark, SF) is not fn(spark, SF)
    assert cache.keys("plan") == stored


def test_dead_application_entries_dropped_on_first_live_insert(spark):
    log = []
    dead = _app("dead-app-store")
    cache.memo(dead, "t_dead_a", "k", lambda: 1, cap=4,
               frames=lambda _v: [_Frame(log, "a")])
    cache.put(dead, "t_dead_b", "k", 2, cap=4, frames=[_Frame(log, "b")])
    assert log == []
    cache.put(spark, "t_dead_b", "live", 3, cap=4, frames=[_Frame(log, "live")])
    assert sorted(log) == ["a", "b"]
    assert cache.keys("t_dead_a") == []
    app = spark.sparkContext.applicationId
    assert cache.keys("t_dead_b") == [(app, "live")]
    cache.release("t_dead_b")
    assert sorted(log) == ["a", "b", "live"]


def test_memo_store_under_thread_contention(spark):
    """Many threads on overlapping keys: every call is counted exactly once
    as a hit or a miss, every miss is one build, and the cap holds."""
    import sys
    import threading

    live = _app(spark.sparkContext.applicationId)  # no py4j in the loop
    threads_n, calls, cap = 12, 300, 8
    hits0, misses0 = cache.counts("t_stress")
    builds = []
    errors = []

    def work(seed):
        try:
            for i in range(calls):
                key = (seed * 7 + i) % 16
                cache.memo(live, "t_stress", key, lambda: builds.append(1) or key, cap=cap)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(s,)) for s in range(threads_n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    hits, misses = cache.counts("t_stress")
    assert (hits - hits0) + (misses - misses0) == threads_n * calls
    assert len(builds) == misses - misses0
    assert len(cache.keys("t_stress")) <= cap
    cache.release("t_stress")


def test_put_during_memo_build_is_owned_by_the_built_entry(spark):
    """Frames stored while a memo build runs (the star build's `valid`
    branch inside a pipeline entry) are released with that entry."""
    log = []

    def build():
        cache.put(spark, "t_held", "valid", None, cap=4, frames=[_Frame(log, "valid")])
        return "entry"

    cache.memo(spark, "t_owner", "k", build, cap=4)
    cache.release("t_owner")
    assert log == ["valid"]
    cache.release("t_held")


# ----------------------------------------------------------------------
# staging: age sweep of session-scoped staged dirs
# ----------------------------------------------------------------------


def _write_staged(path: str) -> None:
    os.makedirs(path)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _age(path: str, hours: float) -> None:
    t = time.time() - hours * 3600
    os.utime(path, (t, t))


def test_stage_table_hit_keeps_live_session_dir(tmp_path, monkeypatch):
    """A hit refreshes the staged dir's mtime, so a session that lives
    past the sweep's 6 h age guard keeps its staged tables when another
    session sweeps."""
    from fefal_etl_spark.staging import stage_table

    monkeypatch.setenv("FEFAL_STAGE_DIR", str(tmp_path))
    live = _app("app-live-session")
    path = stage_table(live, "t", "fp", _write_staged, scope="session")
    _age(path, 7)
    assert stage_table(live, "t", "fp", _write_staged, scope="session") == path
    other = stage_table(_app("app-other"), "t", "fp", _write_staged, scope="session")
    assert other != path
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_session_sweep_matches_session_suffix_only(tmp_path, monkeypatch):
    """Sweep victims are dirs ending in the session suffix ``-s`` + 8 hex
    digits; a store-scoped dir whose name merely contains ``-s`` stays."""
    from fefal_etl_spark.staging import stage_table

    monkeypatch.setenv("FEFAL_STAGE_DIR", str(tmp_path))
    store_dir = tmp_path / "t-sales-0123456789abcdef"
    dead_session = tmp_path / "t-0123456789abcdef-s0a1b2c3d"
    for d in (store_dir, dead_session):
        _write_staged(str(d))
        _age(str(d), 7)
    stage_table(_app("app-sweeper"), "t", "fp", _write_staged, scope="session")
    assert store_dir.exists()
    assert not dead_session.exists()


# ----------------------------------------------------------------------
# stale state after a fixture rewrite in the same session
# ----------------------------------------------------------------------


def test_pipeline_query_follows_rewritten_customer(spark, tmp_path):
    """The shared pipeline entry is keyed by the customer bytes: after a
    rewrite, pipeline_status_accounting matches its oracle on the NEW data
    (keyed by (application, sf_dir) alone it served the old persisted
    classified frame)."""
    import duckdb
    import pyarrow.parquet as pq

    from fefal_etl_spark.cache import release_tracked
    from fefal_etl_spark.queries import get_oracles, get_queries

    sf = str(tmp_path / "sf")
    shutil.copytree(SF, sf)
    fn = get_queries()["pipeline_status_accounting"]
    before = sorted(tuple(r) for r in fn(spark, sf).collect())
    path = os.path.join(sf, "customer.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 2), path)
    after = sorted(tuple(r) for r in fn(spark, sf).collect())
    release_tracked()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(get_oracles()["pipeline_status_accounting"]).fetchall())
    assert after == want
    assert after != before


def test_plant_headroom_follows_rewritten_documents(spark, tmp_path):
    """The footer probe is keyed by the documents bytes: rewriting the same
    path with a colliding id must fail the second probe (the probe used to
    be memoized per path alone and missed the collision)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fefal_etl_spark.llm.queries import _assert_plant_headroom

    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2, 999], "text": ["a", "b", "c"]}), path)
    _assert_plant_headroom(spark, str(tmp_path), "documents", "doc_id")
    pq.write_table(pa.table({"doc_id": [1, 1_000_000], "text": ["a", "b"]}), path)
    with pytest.raises(ValueError, match="namespace collision"):
        _assert_plant_headroom(spark, str(tmp_path), "documents", "doc_id")


# ----------------------------------------------------------------------
# guard against module-level caches growing back
# ----------------------------------------------------------------------

#: module-level empty containers that are not caches, each with its reason
_ALLOWED = {
    ("queries.py", "QUERIES"): "the query registry, filled by @register",
    ("queries.py", "ORACLES"): "the oracle registry, filled by @register",
    ("staging.py", "_BUILD_SECONDS"): "a build-time ledger, never read as a cache",
}
_EMPTY_CALLS = {"dict", "list", "set", "OrderedDict", "defaultdict", "Counter"}


def _is_empty_container(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    if isinstance(node, ast.Call):
        name = getattr(node.func, "id", getattr(node.func, "attr", None))
        return name in _EMPTY_CALLS and not node.args and not node.keywords
    return False


def test_no_module_level_caches_outside_cache_py():
    """State reused across calls lives in the memo store; a module-level
    empty dict/list/set anywhere else is a new private cache."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "cache.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if not _is_empty_container(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if (rel, name) not in _ALLOWED:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert not found, (
        f"module-level containers {found}: keep reusable state in "
        "fefal_etl_spark.cache (memo/put) instead"
    )
