"""The DuckDB reference check passes the reference's own rows and catches
a perturbed result."""

import pytest

from perfbench import gen, oracle, panels


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    d = tmp_path_factory.mktemp("csv")
    for day in range(4):
        gen.write_gas_day(str(d), 5, day, 720)
    return oracle.duck_gas(str(d))


PARAMS = {"field": "R3 (MOhm)", "start_day": 2, "days": 2, "window": "15m"}


@pytest.mark.parametrize("template", sorted(panels.TEMPLATES))
def test_reference_rows_pass(con, template):
    _, _, sql = panels.TEMPLATES[template](PARAMS)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    assert rows, template
    assert oracle.compare_rows(cols, rows, con, sql) is None
    # columns are matched by name, not position
    rev = list(reversed(cols))
    assert oracle.compare_rows(rev, [tuple(reversed(r)) for r in rows], con, sql) is None


def _reference(con, template):
    _, _, sql = panels.TEMPLATES[template](PARAMS)
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall(), sql


def test_perturbed_value_fails(con):
    cols, rows, sql = _reference(con, "flux_use_variable")
    i = cols.index("mean")
    bad = [tuple(v * (1 + 1e-6) if j == i else v for j, v in enumerate(rows[0]))] + rows[1:]
    assert "!=" in oracle.compare_rows(cols, bad, con, sql)


def test_missing_or_extra_row_fails(con):
    cols, rows, sql = _reference(con, "influxql_multi_agg")
    assert oracle.compare_rows(cols, rows[1:], con, sql) is not None
    assert oracle.compare_rows(cols, rows + rows[:1], con, sql) is not None


def test_wrong_columns_fail(con):
    cols, rows, sql = _reference(con, "flux_field_keys")
    assert oracle.compare_rows(["_field"], rows, con, sql) is not None


def test_last_digit_noise_passes(con):
    cols, rows, sql = _reference(con, "flux_ema")
    i = cols.index("last_value")
    near = [tuple(v * (1 + 1e-13) if j == i else v for j, v in enumerate(r)) for r in rows]
    assert oracle.compare_rows(cols, near, con, sql) is None


@pytest.fixture(scope="module")
def shard(tmp_path_factory):
    path, near = gen.write_shard(str(tmp_path_factory.mktemp("shards")), 4, 1, 300)
    return oracle.duck_tables(path, ("documents", "embeddings")), near


def test_planted_near_duplicates_are_in_the_reference_pairs(shard):
    from time_series_data_pipeline_spark.queries import ORACLE

    con, near = shard
    pairs = {(a, b) for a, b, _ in con.execute(ORACLE["ngram_jaccard_pairs"]).fetchall()}
    assert near and set(near) <= pairs


@pytest.mark.parametrize("query", ["curation_pipeline", "ngram_jaccard_pairs", "hybrid_search_rrf"])
def test_perturbed_curation_result_fails(shard, query):
    from time_series_data_pipeline_spark.queries import ORACLE

    con, _ = shard
    res = con.execute(ORACLE[query])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    assert oracle.compare_rows(cols, rows, con, ORACLE[query]) is None
    assert oracle.compare_rows(cols, rows[1:], con, ORACLE[query]) is not None
    changed = [tuple(("x" if isinstance(v, str) else not v if isinstance(v, bool) else v + 1)
                     if k == len(cols) - 1 else v for k, v in enumerate(rows[0]))] + rows[1:]
    assert oracle.compare_rows(cols, changed, con, ORACLE[query]) is not None
