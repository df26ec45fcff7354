"""Seeded input generators for the three workloads.

Every generator takes the run seed and writes plain files into a
directory; the engine only ever sees those files. The same seed gives
byte-identical files (numpy ``default_rng`` streams keyed by
``(seed, purpose)``, a fixed row order, one parquet file per table).

- :func:`gen_registry` / :func:`gen_survey_year` — the entity registry
  parquet and yearly FEFAL-style survey CSVs with every column group of
  the reference (identificação, formações, interesses value + comment
  pairs, disponibilidade, tipo de ensino), plus the planted status counts
  each year must reproduce (``survey_etl``).
- :func:`gen_sf` — the TPC-H-like tables (plus ``events``, ``documents``
  and ``embeddings``) the registry queries read, at a chosen scale.
- :func:`gen_ops` — the bulk-load rows and op stream of the table writer
  (``query_mix``).
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, purpose: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, purpose)) * 7919 + len(purpose)])


# ---------------------------------------------------------------------------
# survey_etl inputs
# ---------------------------------------------------------------------------

_PLACES = [
    "Aveiro", "Braga", "Évora", "Óbidos", "Viseu", "Guarda", "Tomar", "Sintra",
    "Loulé", "Leiria", "Setúbal", "Mértola", "Amarante", "Lousã", "Peniche",
    "Ílhavo", "Caminha", "Fundão", "Sátão", "Odemira",
]
_FORMACOES = [
    "Excel Avançado", "Liderança", "Gestão de Projetos", "Contratação Pública",
    "Proteção de Dados", "Atendimento ao Público", "Inglês Técnico",
    "Segurança no Trabalho", "Contabilidade Pública", "Comunicação",
    "Teletrabalho", "Marketing Territorial", "Ética", "Arquivo Digital",
    "Urbanismo", "Ambiente",
]
_AREAS = [
    "Gestão", "Finanças", "Recursos Humanos", "Informática", "Área Jurídica",
    "Ação Social", "Educação", "Cultura", "Desporto", "Turismo", "Obras",
    "Saúde",
]
_DISP = [
    f"{tipo} - [{hor}]"
    for tipo in ("Presencial", "Online")
    for hor in ("Manhã", "Tarde", "Pós-laboral")
]
TIPOS_DISP = [(1, "Presencial"), (2, "Online")]  # (id_tipo_disp, descricao_tipo_disp)
_PREFS = [
    "Prefere e-learning (1-5)", "Prefere presencial (1-5)",
    "Prefere b-learning (1-5)", "Prefere workshops (1-5)",
    "Prefere seminários (1-5)",
]
_ID_COLS = [
    "Nome da Entidade", "Tipo de Entidade", "Responsável", "Existe responsável?",
    "Percentagem preenchida", "Data de início", "Data de fim", "Data de submissão",
]
RENAME_MAP = {
    "Nome da Entidade": "nome_entidade",
    "Tipo de Entidade": "tipo_entidade",
    "Responsável": "nome_responsavel",
    "Existe responsável?": "existe_responsavel",
    "Percentagem preenchida": "percentagem_preenchido",
    "Data de início": "data_inicio",
    "Data de fim": "data_fim",
    "Data de submissão": "data_submissao",
}
ENTITY_TYPE_MAP = {
    "CM": "Municípios", "Câmara": "Municípios",
    "Junta": "Freguesias", "JF": "Freguesias",
}
_SURVEY_TYPE = {"Municípios": ("CM", "Câmara"), "Freguesias": ("Junta", "JF")}
_NAME_FORMS = {
    "Municípios": ("Município de {}", "Câmara Municipal de {}", "CM {}", "{}"),
    "Freguesias": ("Freguesia de {}", "Junta de Freguesia de {}", "{}"),
}
_BLANKS = ("nd", "", "N/A", "sem dados", "nan", "Não definido")
_COMMENTS = (
    "Muito interessante. Queremos mais sessões!",
    "Seria útil em horário pós-laboral.",
    "Boa iniciativa. Falta divulgação.",
    "Sem comentários.",
)
SURVEY_RATES = {"blank": 0.03, "unmatched": 0.05, "duplicate": 0.08}


def survey_year_layout(seed: int, year: int) -> dict:
    """Column layout of one yearly survey: which formações / áreas /
    preferências that year's questionnaire asked (a seeded subset, so the
    dimension upsert between years both reuses and adds members)."""
    r = _rng(seed, f"layout-{year}")
    forms = sorted(r.choice(len(_FORMACOES), 10, replace=False))
    areas = sorted(r.choice(len(_AREAS), 8, replace=False))
    prefs = sorted(r.choice(len(_PREFS), 4, replace=False))
    form_cols = [f"Quantos formandos? [{_FORMACOES[i]}]" for i in forms]
    int_cols: list[str] = []
    for i in areas:
        int_cols += [_AREAS[i], f"{_AREAS[i]}[comentario]"]
    pref_cols = [_PREFS[i] for i in prefs]
    cols = _ID_COLS + form_cols + int_cols + _DISP + pref_cols
    groups = {}
    pos = 1
    for name, block in (
        ("identificacao", _ID_COLS),
        ("formacoes", form_cols),
        ("interesses", int_cols),
        ("disponibilidade", _DISP),
        ("tipo de ensino", pref_cols),
    ):
        groups[name] = (pos, pos + len(block) - 1)
        pos += len(block)
    return {"columns": cols, "groups": groups, "year": year}


def gen_registry(seed: int, n_entities: int, path: str) -> list[tuple]:
    """The SII entity registry: (id_entidades, ent_nome, ent_tipo)."""
    r = _rng(seed, "registry")
    tipos = np.where(r.random(n_entities) < 0.4, "Municípios", "Freguesias")
    places = np.array(_PLACES)[r.integers(0, len(_PLACES), n_entities)]
    rows = [
        (i + 1, f"{p} {i + 1}", str(t)) for i, (p, t) in enumerate(zip(places, tipos))
    ]
    pq.write_table(
        pa.table(
            {
                "id_entidades": pa.array([x[0] for x in rows], pa.int32()),
                "ent_nome": [x[1] for x in rows],
                "ent_tipo": [x[2] for x in rows],
            }
        ),
        path,
    )
    return rows


def gen_survey_year(
    seed: int, year: int, n_rows: int, registry: list[tuple], path: str
) -> dict:
    """Write one yearly survey CSV; return its layout and the planted
    status counts (blank_name / unmatched / duplicate / valid)."""
    layout = survey_year_layout(seed, year)
    r = _rng(seed, f"survey-{year}")
    cols = layout["columns"]
    n_blank = int(round(n_rows * SURVEY_RATES["blank"]))
    n_unmatched = int(round(n_rows * SURVEY_RATES["unmatched"]))
    n_dup = int(round(n_rows * SURVEY_RATES["duplicate"]))
    n_valid = n_rows - n_blank - n_unmatched - n_dup
    ents = r.choice(len(registry), n_valid, replace=False)
    # each planted duplicate repeats one of the valid entities (some twice)
    dup_of = r.choice(ents, n_dup, replace=True)
    kinds = (
        [("valid", int(e)) for e in ents]
        + [("duplicate", int(e)) for e in dup_of]
        + [("unmatched", i) for i in range(n_unmatched)]
        + [("blank", i) for i in range(n_blank)]
    )
    order = r.permutation(len(kinds))
    n = len(kinds)
    names, types = [], []
    pct = np.empty(n, dtype=np.int64)
    u = r.random((n, 4))
    for j, idx in enumerate(order):
        kind, ref = kinds[idx]
        if kind in ("valid", "duplicate"):
            _, nome, tipo = registry[ref]
            forms = _NAME_FORMS[tipo]
            name = forms[int(u[j, 0] * len(forms))].format(nome)
            if u[j, 1] < 0.2:
                name = "  " + name.upper() + " "
            t_col = _SURVEY_TYPE[tipo][int(u[j, 2] * 2)]
            # a planted duplicate always loses the best-record ranking
            pct[j] = 40 + int(u[j, 3] * 61) if kind == "valid" else int(u[j, 3] * 40)
        elif kind == "unmatched":
            if u[j, 1] < 0.5:
                name, t_col = f"Entidade Fantasma {year}-{ref}", "CM"
            else:
                # a real name under the other entity type never matches
                _, nome, tipo = registry[int(u[j, 0] * len(registry))]
                other = "Freguesias" if tipo == "Municípios" else "Municípios"
                name, t_col = nome, _SURVEY_TYPE[other][0]
            pct[j] = int(u[j, 3] * 101)
        else:
            name, t_col = _BLANKS[int(u[j, 0] * len(_BLANKS))], "CM"
            pct[j] = int(u[j, 3] * 101)
        names.append(name)
        types.append(t_col)

    def pick(options, size=n):
        return np.array(options, dtype=object)[r.choice(len(options), size)]

    def timestamps(t):
        text = np.datetime_as_string(t.astype("datetime64[s]"))
        return np.char.replace(text, "T", " ").astype(object)

    start = np.datetime64(f"{year}-03-01T08:00:00") + r.integers(
        0, 60 * 24 * 60, n
    ).astype("timedelta64[m]")
    end = start + r.integers(-600, 7200, n).astype("timedelta64[s]")
    start_s = timestamps(start)
    start_s[r.random(n) < 0.02] = "bad-date"
    sub_s = timestamps(end + np.timedelta64(1, "h"))
    sub_s[r.random(n) < 0.3] = ""
    pct_s = pct.astype(str).astype(object)
    bad = r.random(n) < 0.02
    pct_s[bad] = pick(("abc", "-5"), int(bad.sum()))
    resp = np.char.add("Resp ", r.integers(0, 1000, n).astype(str)).astype(object)
    resp[r.random(n) < 0.2] = ""
    columns = [
        names, types, resp, pick(("Sim", "Não", "talvez", "")), pct_s,
        start_s, timestamps(end), sub_s,
    ]
    g0, g1 = layout["groups"]["formacoes"]
    for _ in range(g1 - g0 + 1):
        v = r.integers(-2, 30, n).astype(str).astype(object)
        v[r.random(n) < 0.03] = "garbage"
        columns.append(v)
    g0, g1 = layout["groups"]["interesses"]
    for _ in range((g1 - g0 + 1) // 2):
        columns.append(pick(("Sim", "Não", "")))
        c = r.random(n)
        txt = pick(_COMMENTS)
        txt[c < 0.2] = r.integers(0, 20, int((c < 0.2).sum())).astype(str)
        txt[c >= 0.5] = ""
        columns.append(txt)
    for _ in _DISP:
        columns.append(pick(("Sim", "Não", "talvez", "")))
    g0, g1 = layout["groups"]["tipo de ensino"]
    for _ in range(g1 - g0 + 1):
        v = r.integers(1, 6, n).astype(str).astype(object)
        v[r.random(n) < 0.05] = "x"
        columns.append(v)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(cols)
        w.writerows(zip(*columns))
    planted = {
        "valid": len(set(int(e) for e in ents)),
        "duplicate": n_dup,
        "unmatched": n_unmatched,
        "blank_name": n_blank,
    }
    return {"layout": layout, "planted": planted, "rows": n_rows, "path": path}


# ---------------------------------------------------------------------------
# query_mix inputs: TPC-H-like tables at scale ``sf`` (1.0 ≈ 150k customers)
# ---------------------------------------------------------------------------

_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _unique_cents(r: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """n distinct 2-decimal values in [lo, hi) — no ties at top-k cut-offs."""
    span = int(round((hi - lo) * 100))
    vals = r.integers(0, span, n)
    while True:
        u, first = np.unique(vals, return_index=True)
        if len(u) == n:
            break
        dup = np.setdiff1d(np.arange(n), first)
        vals[dup] = r.integers(0, span, len(dup))
    return np.round(lo + vals / 100.0, 2)


def _days(r, n, start: dt.date, days: int) -> np.ndarray:
    d = np.datetime64(start) + r.integers(0, days, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def gen_sf(seed: int, sf: float, out: str) -> dict[str, int]:
    """Write region … embeddings parquet files for scale ``sf``; return
    the row count of each table."""
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(20, n_ev // 66)
    n_docs = int(50_000 * sf)
    n_vec = int(50_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _unique_cents(r, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(
                ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
            )[r.integers(0, 5, n_cust)],
        }
    )
    r = _rng(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _unique_cents(r, n_supp, -999.99, 9999.99),
        }
    )
    r = _rng(seed, "part")
    pk = np.arange(n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": np.array(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
            )[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    r = _rng(seed, "orders")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _unique_cents(r, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(r, n_ord, dt.date(1995, 1, 1), 2404),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, n_ord)],
        }
    )
    r = _rng(seed, "lineitem")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _unique_cents(r, n_line, 900.0, 105000.0),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _days(r, n_line, dt.date(1995, 1, 2), 2499),
        }
    )
    r = _rng(seed, "events")
    secs = np.sort(r.random(n_ev) * 30 * 86400)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("int64").astype(
        "timedelta64[us]"
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(["error", "click", "view", "signup", "purchase"])[
                r.integers(0, 5, n_ev)
            ],
            "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and r.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n = int(r.integers(10, 100))
            texts.append(" ".join(np.array(_WORDS)[r.integers(0, len(_WORDS), n)]))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])[r.integers(0, 7, n_docs)]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centers = r.standard_normal((10, 64))
    vecs = centers[labels] + 0.8 * r.standard_normal((n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


# ---------------------------------------------------------------------------
# the table writer's op stream (query_mix)
# ---------------------------------------------------------------------------

# The writer's stream follows the shape of a transactional-table workload:
# mostly small appends, an occasional row-level rewrite (merge, DV delete,
# DV update) and a periodic compaction, with a read after every commit.
# One stream is one block of ten commits, so every run commits exactly ten
# times: the compaction is the tenth commit and lands on version 10, where
# the table writes its checkpoint (every CHECKPOINT_INTERVAL = 10 commits).
# Only the rows and predicates vary with the seed.
COMMITS = (
    "append", "append", "merge", "append", "delete_dv",
    "append", "update_dv", "append", "append", "compact",
)
READS = ("read_matching", "read", "read_as_of", "change_feed")
N_GROUPS = 50


def gen_rows(r: np.random.Generator, ids: np.ndarray) -> list[tuple]:
    grp = r.integers(0, N_GROUPS, len(ids))
    val = np.round(r.random(len(ids)) * 1000.0, 2)
    tag = r.integers(0, 97, len(ids))
    return [
        (int(i), int(g), float(v), f"t{int(t)}") for i, g, v, t in zip(ids, grp, val, tag)
    ]


def gen_ops(seed: int, n_base: int) -> tuple[list[tuple], list[dict]]:
    """The bulk-load rows and the seeded op stream over them: each commit
    of ``COMMITS`` followed by one read, the read kinds taken in turn from
    ``READS``. Each op is a dict with ``kind`` and its parameters; row
    payloads are generated here so the stream is fully determined by the
    seed."""
    r = _rng(seed, "ops")
    base = gen_rows(r, np.arange(n_base))
    next_id = n_base
    ops: list[dict] = []
    kinds = [k for i, c in enumerate(COMMITS) for k in (c, READS[i % len(READS)])]
    for kind in kinds:
        op: dict = {"kind": kind}
        if kind == "append":
            n = int(r.integers(100, 200))
            op["rows"] = gen_rows(r, np.arange(next_id, next_id + n))
            next_id += n
        elif kind == "merge":
            old = r.choice(next_id, 40, replace=False)
            new = np.arange(next_id, next_id + 20)
            next_id += 20
            op["rows"] = gen_rows(r, np.concatenate([old, new]))
        elif kind == "delete_dv":
            op["mod"], op["rem"] = 53, int(r.integers(0, 53))
            op["grp_lt"] = int(r.integers(5, N_GROUPS))
        elif kind == "update_dv":
            op["grp"] = int(r.integers(0, N_GROUPS))
            op["mod"], op["rem"] = 7, int(r.integers(0, 7))
            op["delta"] = float(r.integers(1, 20)) / 2.0
        elif kind == "read_matching":
            lo = int(r.integers(0, next_id))
            op["lo"], op["hi"] = lo, lo + int(r.integers(200, 2000))
        elif kind == "read_as_of":
            op["back"] = 2  # commits back in time
        elif kind == "change_feed":
            op["span"] = 3  # commits the feed covers
        ops.append(op)
    return base, ops
