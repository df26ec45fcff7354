"""End-to-end pipeline + star-schema tests on the FIXTURES.md survey shape
(all five column groups, every reference branch exercised)."""

import pytest
from pyspark.sql import functions as F

from fefal_etl_spark.plans.config import GroupSpec, PipelineConfig
from fefal_etl_spark.plans.pipeline import run_pipeline
from fefal_etl_spark.plans.star import build_star

COLS = [
    # identificacao (1-8)
    "Nome da Entidade", "Tipo de Entidade", "Responsável", "Existe responsável?",
    "Percentagem preenchida", "Data de início", "Data de fim", "Data de submissão",
    # formacoes (9-10)
    "Quantos formandos? [Excel Avançado]", "Formação sem brackets",
    # interesses (11-13)
    "Gestão", "Gestão[comentario]", "Finanças",
    # disponibilidade (14-15)
    "Presencial - [Manhã]", "Online - [Pós-laboral]",
    # tipo de ensino (16)
    "Prefere e-learning (1-5)",
]

ROWS = [
    # valid, full data, numeric comment overrides Gestão formandos
    ("Município de Aveiro", "CM", "Ana", "Sim", "80",
     "2024-01-01 10:00:00", "2024-01-01 10:30:00", None,
     "5", "3", "Sim", "12", "Não", "Sim", "Não", "4"),
    # duplicate of Aveiro with higher pct → becomes the valid one
    ("Camara Municipal de Aveiro", "CM", "Rui", "Não", "90",
     "2024-01-01 09:00:00", "2024-01-01 08:00:00", "2024-01-02 12:00:00",
     "garbage", "-2", "Não", "Bom. Gostámos!", "Sim", "talvez", "Sim", "x"),
    # unmatched entity
    ("Entidade Fantasma", "CM", None, "talvez", "-5",
     "bad-date", "2024-01-01 10:00:00", None,
     "2", "0", "Sim", None, None, "Não", "Sim", "2"),
    # blank name
    ("nd", "CM", None, None, "50",
     None, None, None, "1", "1", "Não", "7", "Não", "Sim", "Sim", "5"),
    # valid, Braga
    ("Freguesia de Braga", "Junta", "Eva", "Sim", "100",
     "2024-01-01 10:00:00", "2024-01-01 11:00:00", None,
     "0", "2", "Sim", "Interessante. Queremos mais!", "Sim", "Sim", "-1", "3"),
]


@pytest.fixture(scope="module")
def config():
    return PipelineConfig(
        year=2025,
        groups={
            "identificacao": GroupSpec(1, 8),
            "formacoes": GroupSpec(9, 10),
            "interesses": GroupSpec(11, 13),
            "disponibilidade": GroupSpec(14, 15),
            "tipo de ensino": GroupSpec(16, 16),
        },
        rename_map={
            "Nome da Entidade": "nome_entidade",
            "Tipo de Entidade": "tipo_entidade",
            "Responsável": "nome_responsavel",
            "Existe responsável?": "existe_responsavel",
            "Percentagem preenchida": "percentagem_preenchido",
            "Data de início": "data_inicio",
            "Data de fim": "data_fim",
            "Data de submissão": "data_submissao",
        },
        entity_type_map={"CM": "Municípios", "Junta": "Freguesias"},
    )


@pytest.fixture(scope="module")
def fixtures(spark, config):
    survey = spark.createDataFrame(
        [tuple(r) for r in ROWS], ", ".join(f"`{c}` string" for c in COLS)
    )
    registry = spark.createDataFrame(
        [(1, "Aveiro", "Municípios"), (2, "Braga", "Freguesias")],
        "id_entidades int, ent_nome string, ent_tipo string",
    )
    tipos = spark.createDataFrame(
        [(1, "Presencial"), (2, "Online")],
        "id_tipo_disp int, descricao_tipo_disp string",
    )
    result = run_pipeline(survey, registry, config)
    result.frame.cache()
    star = build_star(result, tipos_disponibilidades=tipos, key_mode="sequential")
    return result, star


def test_status_invariant(fixtures):
    result, _ = fixtures
    counts = {r["status"]: r["n"] for r in
              result.frame.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == len(ROWS)  # etl_ui.py:1986
    assert counts == {"valid": 2, "duplicate": 1, "unmatched": 1, "blank_name": 1}


def test_best_record_wins(fixtures):
    result, _ = fixtures
    valid = {r["nome_entidade"]: r for r in result.valid.collect()}
    # pct 90 row beats pct 80 row for Aveiro (W2 best-record semantics)
    assert "Camara Municipal de Aveiro" in valid
    dup = result.duplicate.collect()[0]
    assert dup["nome_entidade"] == "Município de Aveiro"


def test_fact_inquerito(fixtures):
    result, star = fixtures
    facts = {r["id_entidade"]: r for r in star["fact_inquerito"].collect()}
    assert set(facts) == {1, 2}
    aveiro, braga = facts[1], facts[2]
    # pct rescaled by global max (100): 90 → 90
    assert aveiro["percentagem_preenchido"] == 90
    assert braga["percentagem_preenchido"] == 100
    # duration: fim < inicio → NULL for Aveiro-90 row; 3600 s for Braga
    assert aveiro["tempo_realizacao"] is None
    assert braga["tempo_realizacao"] == 3600
    # existe_responsavel: 'Não' → 0, 'Sim' → 1 (F10)
    assert aveiro["existe_responsavel"] == 0
    assert braga["existe_responsavel"] == 1
    # data_submissao coalesces to data_fim when missing (F14)
    assert aveiro["data_submissao"] == "2024-01-02"
    assert braga["data_submissao"] == "2024-01-01"
    assert aveiro["ano"] == 2025


def test_formations(fixtures):
    _, star = fixtures
    dim = {r["nome_formacao"]: r["id_formacao"] for r in star["dim_formacao"].collect()}
    assert set(dim) == {"excel avancado", "formacao sem brackets"}
    fact = star["fact_resposta_formacao"]
    rows = fact.join(star["dim_formacao"], "id_formacao").collect()
    got = {(r["id_inquerito"] is not None, r["nome_formacao"], r["n_formandos"])
           for r in rows}
    # valid rows only: Aveiro-90 (garbage→0, -2→0), Braga (0, 2); zeros kept
    vals = sorted((r["nome_formacao"], r["n_formandos"]) for r in rows)
    assert vals == [
        ("excel avancado", 0), ("excel avancado", 0),
        ("formacao sem brackets", 0), ("formacao sem brackets", 2),
    ]


def test_interests_comment_override_and_comments(fixtures):
    _, star = fixtures
    fact = star["fact_resposta_interesse"].join(
        star["dim_area_tematica"], "id_interesse"
    ).collect()
    got = {(r["nome_area"], r["n_formandos"]) for r in fact}
    # Aveiro-90: gestao='Não'→0 → no row; financas='Sim'→1 → row
    # Braga: gestao='Sim'→1 with text comment (no override), financas 'Sim'→1
    assert got == {("financas", 1), ("gestao", 1)}
    comments = star["comentario"].collect()
    texts = sorted(c["texto_comentario"] for c in comments)
    assert texts == ["Interessante.", "Queremos mais!"]
    # comment rows reference an existing fact key
    fact_keys = {r["id_resposta_interesse"] for r in fact}
    assert all(c["id_resposta_interesse"] in fact_keys for c in comments)


def test_availability(fixtures):
    _, star = fixtures
    dim = {(r["descricao_horario"], r["id_tipo_disp"]): r["id_horario"]
           for r in star["dim_disponibilidade_horaria"].collect()}
    assert set(dim) == {("Manhã", 1), ("Pós-laboral", 2)}
    fact = star["fact_resposta_disponibilidade"].join(
        star["dim_disponibilidade_horaria"], "id_horario"
    ).collect()
    got = sorted((r["descricao_horario"], r["tem_disponibilidade"]) for r in fact)
    # Aveiro-90: talvez→-1, Sim→1; Braga: Sim→1, -1→-1 (tri-state F9)
    assert got == [("Manhã", -1), ("Manhã", 1), ("Pós-laboral", -1), ("Pós-laboral", 1)]


def test_preferences(fixtures):
    _, star = fixtures
    fact = star["fact_resposta_preferencia"].join(
        star["dim_preferencia_ensino"], "id_preferencia"
    ).collect()
    vals = sorted(r["valor_preferencia"] for r in fact)
    # Aveiro-90 'x' → coerce NULL → dropped; Braga '3' → 3
    assert vals == [3]
    assert fact[0]["descricao_preferencia"] == "prefere e-learning (1-5)"


def test_group_validation(config):
    assert config.validate(16) == []
    bad = PipelineConfig(
        year=1, groups={"a": GroupSpec(1, 5), "b": GroupSpec(4, 8)}
    )
    assert any("overlap" in p for p in bad.validate(8))
    oob = PipelineConfig(year=1, groups={"a": GroupSpec(0, 5)})
    assert any("invalid" in p for p in oob.validate(8))


def test_star_without_tipos_keeps_availability_facts(spark, config, fixtures):
    # id_tipo_disp is NULL everywhere when no tipos dim is supplied; the
    # null-safe dim join must still produce every availability fact row.
    result, star_with = fixtures
    star_without = build_star(result, tipos_disponibilidades=None,
                              key_mode="sequential")
    n_with = star_with["fact_resposta_disponibilidade"].count()
    n_without = star_without["fact_resposta_disponibilidade"].count()
    assert n_with > 0
    assert n_without == n_with
    assert (
        star_without["dim_disponibilidade_horaria"]
        .filter(F.col("id_tipo_disp").isNull()).count() > 0
    )


def test_upsert_idempotent_with_null_keys(spark):
    from fefal_etl_spark.operators.upsert import upsert_dim_sequential

    inc = spark.createDataFrame(
        [("manha", 1), ("tarde", None), ("noite", None)],
        "descricao string, tipo int",
    )
    first = upsert_dim_sequential(None, inc, ["descricao", "tipo"], "id")
    again = upsert_dim_sequential(first, inc, ["descricao", "tipo"], "id")
    # re-loading the same input must not re-insert the NULL-keyed rows
    assert again.count() == first.count() == 3
    assert sorted(r["id"] for r in again.collect()) == sorted(
        r["id"] for r in first.collect()
    )


def test_shared_cache_keyed_by_application_id(spark):
    """Two-sequential-sessions simulation (VERDICT r2 item 5): entries keyed
    by a DEAD application id must be dropped (and their frames unpersisted)
    the first time the live application stores an entry — id(spark) reuse
    after GC can no longer serve a stale persisted frame."""
    from types import SimpleNamespace

    from fefal_etl_spark import cache
    from fefal_etl_spark.plans import queries as pq

    cache.release("pipeline")
    cache.release("star")
    app_id = spark.sparkContext.applicationId
    dead = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="dead-app-123"))

    released = []
    dead_frame = SimpleNamespace(unpersist=lambda: released.append("pipeline"))
    cache.memo(
        dead,
        "pipeline",
        "/some/sf",
        lambda: (SimpleNamespace(frame=dead_frame), {}),
        cap=4,
        frames=pq._pipeline_frames,
    )
    live_star = SimpleNamespace(unpersist=lambda: released.append("BUG-live"))
    dead_star = SimpleNamespace(unpersist=lambda: released.append("star"))
    cache.put(dead, "star", "dead", dead_star, cap=64, frames=[dead_star])
    cache.put(spark, "star", "live", live_star, cap=64, frames=[live_star])

    try:
        res, star = pq._shared(spark, "/root/testdata/sf0.001")
        # the dead application's entries are gone and were unpersisted …
        assert ("dead-app-123", "/some/sf") not in cache.keys("pipeline")
        assert ("dead-app-123", "dead") not in cache.keys("star")
        assert sorted(released) == ["pipeline", "star"]
        # … the live application's are intact, and the fresh entry is keyed
        # by the real application id
        assert (app_id, "live") in cache.keys("star")
        assert (app_id, "/root/testdata/sf0.001") in cache.keys("pipeline")
        # a second lookup is a pure cache hit (same objects back)
        hits = cache.counts("pipeline")[0]
        res2, star2 = pq._shared(spark, "/root/testdata/sf0.001")
        assert res2 is res and star2 is star
        assert cache.counts("pipeline")[0] == hits + 1
    finally:
        cache.release("pipeline")
        cache.release("star")


def test_from_mongo_docs_imports_reference_shapes(tmp_path):
    """Round-6 (VERDICT r5 item 7): PipelineConfig.from_mongo_docs must
    ingest the reference's four collection document shapes unmodified
    (etl_ui.py:131-146) — here round-tripped through a JSON export file
    the way a ``mongoexport`` dump would arrive."""
    import json

    import pytest

    from fefal_etl_spark.plans.config import PipelineConfig

    export = {
        "ConfigAdvanced": [
            {
                "_id": "682b5773188a7521e801a4e5",
                "keys": {
                    "comment_keys": ["comentario", "obs"],
                    "formando_keys": ["formandos"],
                },
                "default_type": "interesse",
            }
        ],
        "ConfigRenCol": [
            {"_id": "a", "original_name": "Nome  da Entidade",
             "new_name": "nome_entidade"},
        ],
        "ConfigColMap": [
            {"year": 2024, "groups": {"identificacao": {"start": 1, "end": 2}}},
            {"year": 2025, "groups": {
                "identificacao": {"start": 1, "end": 5},
                "formacoes": {"start": 6, "end": 8},
            }},
        ],
        "ConfigMapEnt": [
            {"tipo_entidade_inq": "Câmara Municipal",
             "tipo_entidade_norm": "Municípios"},
        ],
    }
    path = tmp_path / "export.json"
    path.write_text(json.dumps(export))
    cfg = PipelineConfig.from_mongo_docs(json.loads(path.read_text()), 2025)
    assert cfg.year == 2025
    assert cfg.groups["identificacao"].end == 5
    assert cfg.groups["formacoes"].start == 6
    assert "identificacao" in cfg.groups and len(cfg.groups) == 2
    # rename matching is on NORMALIZED headers (double space collapses)
    assert cfg.rename_map == {"nome da entidade": "nome_entidade"}
    # entity-type keys normalize too (accent fold + lower)
    assert cfg.entity_type_map == {"camara municipal": "Municípios"}
    assert cfg.comment_keys == ["comentario", "obs"]
    # year selection mirrors find_one({"year": year}); missing year raises
    assert PipelineConfig.from_mongo_docs(export, 2024).groups[
        "identificacao"
    ].end == 2
    with pytest.raises(KeyError):
        PipelineConfig.from_mongo_docs(export, 1999)
    # reference fallbacks: empty ConfigAdvanced -> [] keys
    bare = PipelineConfig.from_mongo_docs(
        {"ConfigColMap": [{"year": 1, "groups": {}}]}, 1
    )
    assert bare.comment_keys == [] and bare.formando_keys == []
