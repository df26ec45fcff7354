"""The workloads. Each is closed loop with one client: the next op starts
when the previous one returns.

A workload is a class with

- ``prepare()`` — untimed: generate the seeded inputs into the run dir;
- ``run()`` — the cold part, then warm ops until the window closes;
- ``check()`` — untimed correctness gate; returns a list of failures;
- ``metrics()`` — the workload's numbers (names in ``spec.py``).

Every timed result is fully materialized: to the ``noop`` sink, or by the
write the workload needs anyway (``write_star``, table commits).
"""

from __future__ import annotations

import collections
import importlib.util
import io
import os
import time
from contextlib import redirect_stdout

import datagen
from harness import materialize, median, percentile, to_pandas_all


class Workload:
    name = ""
    # A run still going this long after process start is on a host several
    # times slower than usual; it skips the optional warm work so that it
    # ends well within the 180 s a run may take.
    LATE_S = 90.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.probe = ctx.probe
        self.run_dir = ctx.run_dir
        self.seed = ctx.seed
        self.window_s = ctx.seconds
        self.ops: list[tuple[str, float]] = []  # warm ops: (kind, seconds)
        self.cold_s = 0.0
        self.warm_s = 0.0  # wall time of the warm window
        self.attempted = 0

    def window_open(self, t_start: float) -> bool:
        return time.perf_counter() - t_start < self.window_s

    def late(self) -> bool:
        return time.perf_counter() - self.ctx.t_process > self.LATE_S


def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_tool_{name}", os.path.join(root, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------------------
# survey_etl
# ---------------------------------------------------------------------------


class SurveyEtl(Workload):
    """Yearly survey loads: read_csv → run_pipeline → build_star (upsert
    onto the previous year's dims) → write_star. The first load is the
    cold one; loads after it are warm ops."""

    name = "survey_etl"
    ROWS_PER_YEAR = 4_000
    REGISTRY = 8_000
    MAX_YEARS = 3
    FIRST_YEAR = 2018

    def prepare(self):
        inp = self.run_dir.sub("inputs")
        self.registry_path = os.path.join(inp, "registry.parquet")
        registry = datagen.gen_registry(self.seed, self.REGISTRY, self.registry_path)
        self.years = [
            datagen.gen_survey_year(
                self.seed, y, self.ROWS_PER_YEAR, registry,
                os.path.join(inp, f"survey_{y}.csv"),
            )
            for y in range(self.FIRST_YEAR, self.FIRST_YEAR + self.MAX_YEARS)
        ]

    def _config(self, layout):
        from fefal_etl_spark.plans.config import GroupSpec, PipelineConfig

        return PipelineConfig(
            year=layout["year"],
            groups={k: GroupSpec(*v) for k, v in layout["groups"].items()},
            rename_map=datagen.RENAME_MAP,
            entity_type_map=datagen.ENTITY_TYPE_MAP,
        )

    def run(self):
        from fefal_etl_spark.plans.pipeline import run_pipeline
        from fefal_etl_spark.plans.star import build_star, release_star_cache
        from fefal_etl_spark.sources.readers import read_csv, read_parquet
        from fefal_etl_spark.sources.writers import write_star

        spark, tr, probe = self.spark, self.tr, self.probe
        tipos = spark.createDataFrame(
            datagen.TIPOS_DISP, "id_tipo_disp int, descricao_tipo_disp string"
        )
        self.loads = []  # (year meta, PipelineResult, star paths)
        prev_paths: dict[str, str] = {}
        t_warm = None
        for meta in self.years:
            if t_warm is not None and self.ops and not self.window_open(t_warm):
                break
            out = self.run_dir.sub("out", f"star_{meta['layout']['year']}")
            config = self._config(meta["layout"])
            self.attempted += 1
            with probe.op("load"):
                t0 = time.perf_counter()
                with tr.span("sources.read_csv"):
                    survey = read_csv(spark, meta["path"])
                    registry = read_parquet(spark, self.registry_path)
                    existing = {
                        k: read_parquet(spark, p)
                        for k, p in prev_paths.items()
                        if k.startswith("dim_")
                    }
                with tr.span("plans.run_pipeline"):
                    result = run_pipeline(survey, registry, config)
                with tr.span("plans.build_star"):
                    star = build_star(
                        result, existing_dims=existing or None, tipos_disponibilidades=tipos
                    )
                for df in star.values():
                    probe.force_plan(df)
                with tr.span("sources.write_star"):
                    paths = write_star(star, out)
                release_star_cache()
                dt = time.perf_counter() - t0
            if t_warm is None:
                self.cold_s = dt
                t_warm = time.perf_counter()
            else:
                self.ops.append(("load", dt))
                if len(self.ops) == 1:
                    # a fixed amount of work, whatever the window allows
                    self.disk_bytes = self.run_dir.disk_bytes("out")
            self.loads.append((meta, result, paths))
            prev_paths = paths
        self.warm_s = time.perf_counter() - t_warm

    def check(self) -> list[str]:
        import functools

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        counts = functools.reduce(
            lambda a, b: a.unionByName(b),
            [
                result.frame.groupBy("status").agg(F.count("*").alias("n"))
                .withColumn("load", F.lit(i))
                for i, (_, result, _) in enumerate(self.loads)
            ],
        ).collect()
        bad = []
        prev_dims = None
        for i, (meta, _, paths) in enumerate(self.loads):
            year = meta["layout"]["year"]
            got = {r["status"]: r["n"] for r in counts if r["load"] == i}
            if got != meta["planted"]:
                bad.append(f"survey_etl {year}: status counts {got} != planted {meta['planted']}")
            # the written star, read back without Spark
            star = {k: pq.read_table(p) for k, p in paths.items()}
            facts = star["fact_inquerito"]
            if facts.num_rows != meta["planted"]["valid"]:
                bad.append(f"survey_etl {year}: {facts.num_rows} fact_inquerito rows, "
                           f"planted {meta['planted']['valid']} valid")
            if facts["id_entidade"].null_count:
                bad.append(f"survey_etl {year}: fact_inquerito rows without an entity")
            for fact, key, parent in (
                ("fact_resposta_formacao", "id_inquerito", "fact_inquerito"),
                ("fact_resposta_formacao", "id_formacao", "dim_formacao"),
                ("fact_resposta_interesse", "id_inquerito", "fact_inquerito"),
                ("fact_resposta_interesse", "id_interesse", "dim_area_tematica"),
                ("comentario", "id_resposta_interesse", "fact_resposta_interesse"),
                ("fact_resposta_preferencia", "id_inquerito", "fact_inquerito"),
                ("fact_resposta_preferencia", "id_preferencia", "dim_preferencia_ensino"),
                ("fact_resposta_disponibilidade", "id_inquerito", "fact_inquerito"),
                ("fact_resposta_disponibilidade", "id_horario", "dim_disponibilidade_horaria"),
            ):
                if not star[fact].num_rows:
                    bad.append(f"survey_etl {year}: {fact} is empty")
                orphans = set(star[fact][key].to_pylist()) - set(star[parent][key].to_pylist())
                if orphans:
                    bad.append(f"survey_etl {year}: {len(orphans)} {fact}.{key} orphans")
            # S7 upsert: every member of last year's dims keeps its key
            dims = {
                k: set(zip(*(c.to_pylist() for c in t.columns)))
                for k, t in star.items()
                if k.startswith("dim_") and k != "dim_grupo_formacao"
            }
            for k, rows in dims.items():
                lost = (prev_dims or {}).get(k, set()) - rows
                if lost:
                    bad.append(f"survey_etl {year}: {len(lost)} {k} members lost their key")
            prev_dims = dims
        return bad

    def metrics(self) -> dict:
        loads = [s for _, s in self.ops]
        rows_per_s = len(loads) * self.ROWS_PER_YEAR / sum(loads)
        layers = {
            "etl.first_load_s": self.cold_s,
            "etl.load_p50_s": median(loads),
            "etl.load_max_s": max(loads),
            "etl.rows_per_s": rows_per_s,
        }
        build = ("sources.read_csv", "plans.run_pipeline", "plans.build_star")
        for name in build + ("sources.write_star",):
            d = self.tr.durations(name)[1:]  # warm loads only
            layers[f"{name}_s"] = median(d) if d else 0.0
        layers["api.build_s"] = self.tr.total(*build)
        layers["api.materialize_s"] = self.tr.total("sources.write_star")
        return {
            "cold_s": self.cold_s,
            "warm_s": median(loads),
            "ops_per_s": len(loads) / self.warm_s,
            "disk_bytes": self.disk_bytes,
            "samples": {"warm loads": len(loads)},
            "layers": layers,
        }


# ---------------------------------------------------------------------------
# query_mix: registry queries, with a transactional-table writer
# ---------------------------------------------------------------------------

# (query, family): ROADMAP direction 2's hot list, plus one query for each
# operator family of bench.py's BENCH_QUERIES the hot list misses; README.md
# gives the reason for each.
QUERY_SET = [
    ("embedding_covariance", "llm"),
    ("bootstrap_ci", "analytics"),
    ("scalar_suite", "analytics"),
    ("table_profile", "analytics"),
    ("dq_checks", "analytics"),
    ("approx_sketches", "relational"),
    ("dsir_importance", "llm"),
    ("minhash_neardup", "llm"),
    ("entity_resolution", "relational"),
    ("pipeline_status_accounting", "pipeline"),
    ("table_time_travel", "table"),
]
# the text-similarity family reads the zipf-documents fixture
ZIPF_QUERIES = {"minhash_neardup"}
FAMILIES = ("relational", "analytics", "llm", "pipeline", "table")
SF = 0.005


class QueryMix(Workload):
    """Registry queries in one long-lived session: every query once cold,
    then warm queries in the seeded order until the window closes (at
    least one full pass, and ``WARM_PASSES`` unless the run is late). A
    writer shares the session: it bulk-loads one transactional table after
    the cold pass and runs its whole seeded stream during the first warm
    pass, spread evenly over its queries, so every run does the same
    writer work."""

    name = "query_mix"
    # warm_s takes each query's first two warm samples only: queries of the
    # first pass, which share it with the writer, run 10-25 % slower, so a
    # sample count per query left to the window would move warm_s
    WARM_PASSES = 2

    def prepare(self):
        import numpy as np

        inp = self.run_dir.sub("inputs")
        self.sf_dir = os.path.join(inp, "sf")
        self.zipf_dir = os.path.join(inp, "zipf")
        datagen.gen_sf(self.seed, SF, self.sf_dir)
        gen_sf = _load_tool(self.ctx.root, "gen_sf")
        with redirect_stdout(io.StringIO()):
            gen_sf.generate(self.sf_dir, self.zipf_dir, 1, zipf_docs=True)
        order = np.random.default_rng([self.seed, 17]).permutation(len(QUERY_SET))
        self.order = [QUERY_SET[i] for i in order]
        self.writer = Writer(self)
        self.writer.prepare()

    def _dir(self, name: str) -> str:
        return self.zipf_dir if name in ZIPF_QUERIES else self.sf_dir

    def _query(self, name: str, cold: bool) -> tuple[float, tuple]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql.types import MapType

        from fefal_etl_spark.cache import release_tracked

        spark, tr, probe = self.spark, self.tr, self.probe
        with probe.op("query"):
            t0 = time.perf_counter()
            with tr.span("queries.build", query=name, cold=cold):
                with probe.group("build", "query.build"):
                    df = self.queries[name](spark, self._dir(name))
            probe.force_plan(df)
            # order-insensitive content hash, computed in the same job
            cols = [
                F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType)
                else F.col(f"`{f.name}`")
                for f in df.schema.fields
            ]
            obs = Observation()
            observed = df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))).alias("h"),
            )
            with tr.span("sink.noop", query=name):
                materialize(observed)
            dt = time.perf_counter() - t0
        got = obs.get
        release_tracked()
        return dt, (got.get("n"), got.get("h"))

    def run(self):
        from fefal_etl_spark.queries import get_queries
        from fefal_etl_spark.staging import build_seconds_total

        self.queries = get_queries()
        self.cold: dict[str, float] = {}
        self.digest: dict[str, tuple] = {}
        self.warm: dict[str, list[float]] = collections.defaultdict(list)
        self.mismatch: list[str] = []
        b0 = build_seconds_total()
        for name, _ in self.order:
            self.attempted += 1
            self.cold[name], self.digest[name] = self._query(name, cold=True)
        self.staging_build_s = build_seconds_total() - b0
        self.cold_s = sum(self.cold.values())
        self.attempted += 1
        self.writer.start()
        per_query = -(-len(self.writer.stream) // len(self.order))
        t_warm = time.perf_counter()
        n, n_min = 0, self.WARM_PASSES * len(self.order)
        while n < len(self.order) or (n < n_min and not self.late()) or self.window_open(t_warm):
            name = self.order[n % len(self.order)][0]
            self.attempted += 1
            dt, dig = self._query(name, cold=False)
            self.warm[name].append(dt)
            self.ops.append(("query", dt))
            if dig != self.digest[name]:
                self.mismatch.append(
                    f"query_mix {name}: warm digest {dig} != cold {self.digest[name]}"
                )
            for _ in range(per_query):
                if self.writer.done():
                    break
                self.attempted += 1
                self.ops.append(self.writer.step())
            n += 1
            if n == len(self.order):
                # a fixed amount of work, whatever the window allows
                self.disk_bytes = sum(
                    self.run_dir.disk_bytes(d) for d in ("stage", "warehouse", "tables")
                )
        self.passes = n / len(self.order)
        self.warm_s = time.perf_counter() - t_warm
        for name, _ in self.order:
            warm = " ".join(f"{t:.3f}" for t in self.warm[name])
            print(f"  query {name}: cold {self.cold[name]:.3f} s, warm {warm} s")

    def check(self) -> list[str]:
        import duckdb

        from fefal_etl_spark.queries import get_oracles

        check_oracle = _load_tool(self.ctx.root, "check_oracle")
        oracles = get_oracles()
        cons = {}
        for d in (self.sf_dir, self.zipf_dir):
            con = duckdb.connect()
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{d}/{f}')"
                    )
            cons[d] = con
        bad = list(self.mismatch)
        names = [q for q, _ in self.order]
        results = to_pandas_all([self.queries[q](self.spark, self._dir(q)) for q in names])
        for name, sdf in zip(names, results):
            odf = cons[self._dir(name)].execute(oracles[name]).fetchdf()
            s, o = check_oracle.frame_digest(sdf), check_oracle.frame_digest(odf)
            if s != o:
                bad.append(f"query_mix {name}: spark {s} != oracle {o}")
            elif s[0] != self.digest[name][0]:
                bad.append(f"query_mix {name}: timed run saw {self.digest[name][0]} rows, oracle {s[0]}")
        for con in cons.values():
            con.close()
        return bad + self.writer.check()

    def metrics(self) -> dict:
        warm = [s for k, s in self.ops if k == "query"]
        warm_med = {q: median(v[: self.WARM_PASSES]) for q, v in self.warm.items()}
        family = dict(self.order)
        spans = self.tr.spans
        builds = [(s["end"] - s["start"], s["cold"]) for s in spans if s["name"] == "queries.build"]
        layers = {
            "query.cold_total_s": self.cold_s,
            "query.warm_total_s": sum(warm_med.values()),
            "query.warm_p50_s": median(warm),
            "query.warm_p90_s": percentile(warm, 90),
            "staging.build_s": self.staging_build_s,
            "queries.build_cold_s": sum(d for d, c in builds if c),
            "queries.build_warm_s": sum(d for d, c in builds if not c) / max(1, self.passes),
        }
        for f in FAMILIES:
            layers[f"family.{f}_s"] = sum(t for q, t in warm_med.items() if family[q] == f)
        if self.probe.enabled:
            jobs = [self.probe.group_counts(g)[0] for g in self.probe.groups_of("query.build")]
            warm_jobs = jobs[len(self.order):]
            layers["queries.builder_jobs"] = float(sum(jobs))
            layers["queries.memo_hit_ratio"] = (
                sum(1 for j in warm_jobs if j == 0) / len(warm_jobs) if warm_jobs else 0.0
            )
        layers.update(self.writer.layers())
        layers["api.build_s"] = self.tr.total("queries.build", "table.read_resolve")
        layers["api.materialize_s"] = self.tr.total(
            "sink.noop", "table.scan", "table.overwrite", *(f"table.{k}" for k in COMMIT_KINDS)
        )
        return {
            "cold_s": self.cold_s,
            "warm_s": sum(warm_med.values()),
            "ops_per_s": len(self.ops) / self.warm_s,
            "disk_bytes": self.disk_bytes,
            "samples": {
                "warm queries": len(warm),
                "writer ops": len(self.ops) - len(warm),
                "warm passes": round(self.passes, 2),
            },
            "layers": layers,
        }


# ---------------------------------------------------------------------------
# the transactional-table writer
# ---------------------------------------------------------------------------

TABLE_SCHEMA = "id bigint, grp int, val double, tag string"
COMMIT_KINDS = ("append", "merge", "delete_dv", "update_dv", "compact")


class CountingBackend:
    """Commit-log backend wrapper that counts each call by kind."""

    def __init__(self, inner):
        self.inner = inner
        self.calls = collections.Counter()

    def __getattr__(self, name):
        fn = getattr(self.inner, name)

        def counted(*a, **k):
            self.calls[name] += 1
            return fn(*a, **k)

        return counted


class Writer:
    """One TransactionalTable: a bulk overwrite, then a seeded stream of
    ten commits (mostly small appends, one merge, DV delete and DV update,
    and a closing compaction) with a snapshot, pruned, time-travel or
    change-feed read after each. A model of the table's rows is kept
    alongside to check every result."""

    N_BASE = 5_000
    HISTORY = 8  # model snapshots kept for time travel and change feeds

    def __init__(self, wl: Workload):
        self.spark, self.tr, self.probe = wl.spark, wl.tr, wl.probe
        self.run_dir, self.seed = wl.run_dir, wl.seed

    def prepare(self):
        self.base, self.stream = datagen.gen_ops(self.seed, self.N_BASE)
        self.next_op = 0

    def start(self):
        from fefal_etl_spark.commit_backend import LocalFsBackend
        from fefal_etl_spark.table import TransactionalTable

        self.backend = CountingBackend(LocalFsBackend())
        self.root = self.run_dir.sub("tables", "writer")
        self.table = TransactionalTable(self.spark, self.root, backend=self.backend)
        self.model = {r[0]: r for r in self.base}
        self.history = collections.OrderedDict()  # version -> (rows, commit ts)
        self.samples = []  # (kind, df, expected rows)
        self.feeds = []  # (df, rows before, rows after)
        self.calls = collections.Counter()
        self.times: dict[str, list[float]] = collections.defaultdict(list)
        self.skip: list[float] = []
        with self.probe.op("overwrite"):
            t0 = time.perf_counter()
            with self.tr.span("table.overwrite"):
                v = self.table.overwrite(self.spark.createDataFrame(self.base, TABLE_SCHEMA))
            self.times["overwrite"].append(time.perf_counter() - t0)
        self.history[v] = (dict(self.model), time.time())

    def done(self) -> bool:
        return self.next_op == len(self.stream)

    def step(self) -> tuple[str, float]:
        op = self.stream[self.next_op]
        self.next_op += 1
        kind = op["kind"]
        before = dict(self.backend.calls)
        with self.probe.op(kind):
            t0 = time.perf_counter()
            if kind in COMMIT_KINDS:
                with self.tr.span(f"table.{kind}"):
                    self._commit(op)
            else:
                with self.tr.span("table.read_resolve", kind=kind):
                    df, expected = self._read(op)
                with self.tr.span("table.scan", kind=kind):
                    self.probe.force_plan(df)
                    materialize(df)
            dt = time.perf_counter() - t0
        self.times[kind].append(dt)
        if kind in COMMIT_KINDS:
            for k, n in self.backend.calls.items():
                self.calls[k] += n - before.get(k, 0)
            self.history[self.table.latest_version()] = (dict(self.model), time.time())
            while len(self.history) > self.HISTORY:
                self.history.popitem(last=False)
        elif kind == "change_feed":
            self.feeds.append((df, *expected))
        else:
            self.samples.append((kind, df, expected))
        return kind, dt

    def _commit(self, op):
        t, model, kind = self.table, self.model, op["kind"]
        if kind == "append":
            t.append(self.spark.createDataFrame(op["rows"], TABLE_SCHEMA))
            model.update((r[0], r) for r in op["rows"])
        elif kind == "merge":
            t.merge(self.spark.createDataFrame(op["rows"], TABLE_SCHEMA), keys=["id"])
            model.update((r[0], r) for r in op["rows"])
        elif kind == "delete_dv":
            t.delete_where_dv(f"id % {op['mod']} = {op['rem']} AND grp < {op['grp_lt']}")
            for i in [i for i, r in model.items() if i % op["mod"] == op["rem"] and r[1] < op["grp_lt"]]:
                del model[i]
        elif kind == "update_dv":
            cond = f"grp = {op['grp']} AND id % {op['mod']} = {op['rem']}"
            t.update_where_dv(cond, {"val": f"val + {op['delta']}"})
            for i, r in list(model.items()):
                if r[1] == op["grp"] and i % op["mod"] == op["rem"]:
                    model[i] = (r[0], r[1], r[2] + op["delta"], r[3])
        else:
            t.compact()

    def _read(self, op):
        t, kind = self.table, op["kind"]
        if kind == "read":
            return t.read(), dict(self.model)
        if kind == "read_matching":
            cond = f"id >= {op['lo']} AND id < {op['hi']}"
            if self.probe.enabled:
                kept, total = t.pruned_predicate_files(cond)
                self.skip.append(1.0 - kept / total if total else 0.0)
            exp = {i: r for i, r in self.model.items() if op["lo"] <= i < op["hi"]}
            return t.read_matching(cond), exp
        versions = list(self.history)
        if kind == "read_as_of":
            snap, ts = self.history[versions[max(0, len(versions) - 1 - op["back"])]]
            return t.read_as_of(ts), dict(snap)
        v_from = versions[max(0, len(versions) - 1 - op["span"])]
        return t.change_feed(v_from, versions[-1]), (
            self.history[v_from][0], self.history[versions[-1]][0]
        )

    @staticmethod
    def _rows(pdf) -> list[tuple]:
        return sorted(
            (int(a), int(b), float(c), str(d))
            for a, b, c, d in pdf[["id", "grp", "val", "tag"]].itertuples(index=False)
        )

    def check(self) -> list[str]:
        frames = [self.table.read()] + [df for _, df, _ in self.samples] + [
            df.select("id", "grp", "val", "tag", "_change_type") for df, _, _ in self.feeds
        ]
        pdfs = to_pandas_all(frames)
        final, sampled, feeds = pdfs[0], pdfs[1 : 1 + len(self.samples)], pdfs[1 + len(self.samples):]
        bad = []
        commits = sum(k in COMMIT_KINDS for k in (op["kind"] for op in self.stream))
        if self.table.latest_version() != commits:
            bad.append(f"writer: table at version {self.table.latest_version()} "
                       f"after {commits} commits")
        if self._rows(final) != sorted(self.model.values()):
            bad.append(f"writer: final snapshot ({len(final)} rows) != model ({len(self.model)})")
        for (kind, _, expected), pdf in zip(self.samples, sampled):
            if self._rows(pdf) != sorted(expected.values()):
                bad.append(f"writer: {kind} != model")
        for (_, before, after), pdf in zip(self.feeds, feeds):
            state = collections.Counter(before.values())
            for a, b, c, d, ct in pdf.itertuples(index=False):
                sign = 1 if ct in ("insert", "update_postimage") else -1
                state[(int(a), int(b), float(c), str(d))] += sign
            if any(n < 0 for n in state.values()) or +state != collections.Counter(after.values()):
                bad.append("writer: change_feed does not turn snapshot v_from into v_to")
        return bad

    def layers(self) -> dict:
        commits = [s for k in COMMIT_KINDS for s in self.times[k]]
        reads = [s for k, v in self.times.items() if k not in COMMIT_KINDS + ("overwrite",) for s in v]
        live = self.table.read().inputFiles()
        live_bytes = sum(os.path.getsize(f.removeprefix("file:")) for f in live)
        n = max(1, len(commits))
        layers = {
            "table.commit_p50_s": median(commits) if commits else 0.0,
            "table.commit_p90_s": percentile(commits, 90) if commits else 0.0,
            "table.read_p50_s": median(reads) if reads else 0.0,
            "table.read_p90_s": percentile(reads, 90) if reads else 0.0,
            "table.bytes_per_live_byte": self.run_dir.disk_bytes("tables") / live_bytes,
            "table.files_live": float(len(live)),
            "table.log_bytes": float(self.run_dir.disk_bytes("tables", "writer", "_manifests")),
            "predicate_prune.skip_ratio": sum(self.skip) / len(self.skip) if self.skip else 0.0,
            "table.read_resolve_s": median(self.tr.durations("table.read_resolve") or [0.0]),
            "table.scan_s": median(self.tr.durations("table.scan") or [0.0]),
            "commit_backend.puts_per_commit": (self.calls["put_if_absent"] + self.calls["put"]) / n,
            "commit_backend.gets_per_commit": self.calls["get"] / n,
            "commit_backend.lists_per_commit": self.calls["list"] / n,
        }
        for kind in COMMIT_KINDS:
            layers[f"table.{kind}_s"] = median(self.times[kind] or [0.0])
        return layers


WORKLOADS = {w.name: w for w in (SurveyEtl, QueryMix)}
