"""The seed alone fixes the inputs and the op sequence."""

import hashlib
import itertools

from perfbench import gen, panels


def _digest(tmp_path, seed: int) -> str:
    d = tmp_path / str(seed)
    d.mkdir(parents=True)
    h = hashlib.sha256()
    for day in range(3):
        with open(gen.write_gas_day(str(d), seed, day, 500), "rb") as f:
            h.update(f.read())
    ops = itertools.islice(gen.panel_ops(seed, 13, panels.SHAPES), 50)
    h.update(repr(list(ops)).encode())
    path, near = gen.write_shard(str(d), seed, 1, 200)
    for name in ("documents.parquet", "embeddings.parquet"):
        with open(f"{path}/{name}", "rb") as f:
            h.update(f.read())
    h.update(repr(near).encode())
    return h.hexdigest()


def test_same_seed_same_bytes_and_ops(tmp_path):
    assert _digest(tmp_path / "a", 7) == _digest(tmp_path / "b", 7)


def test_other_seed_differs(tmp_path):
    assert _digest(tmp_path / "a", 7) != _digest(tmp_path / "b", 8)


def test_every_cycle_refreshes_each_template_once_in_its_own_shape():
    n = len(panels.TEMPLATES)
    assert set(panels.SHAPES) == set(panels.TEMPLATES)
    for seed in (3, 4):
        ops = list(itertools.islice(gen.panel_ops(seed, 13, panels.SHAPES), 40 * n))
        for c in range(40):
            cycle = ops[c * n:(c + 1) * n]
            assert sorted(t for t, _ in cycle) == sorted(panels.TEMPLATES)
        for template, p in ops:
            assert (p["window"], p["days"]) == panels.SHAPES[template]


def test_shapes_cover_every_window_and_range_length():
    assert {w for w, _ in panels.SHAPES.values()} == set(gen.WINDOWS)
    assert {d for _, d in panels.SHAPES.values()} == set(range(1, 8))


def test_ranges_stay_inside_the_corpus():
    ops = itertools.islice(gen.panel_ops(5, 13, panels.SHAPES), 900)
    for template, p in ops:
        assert 1 <= p["days"] <= 7 and p["window"] in gen.WINDOWS
        assert 0 <= p["start_day"] and p["start_day"] + p["days"] <= 13
        if template == "flux_join_overlay":
            assert p["start_day"] >= p["days"]


def test_day_file_shape():
    frame = gen.gas_day(1, 0, 1440)
    assert list(frame.columns) == ["Time (s)", *gen.FIELDS]
    assert frame["Time (s)"].max() < 86400
    assert (frame["Time (s)"] == frame["Time (s)"].round()).all()


def test_shard_shape_and_planted_duplicates():
    docs, emb, near = gen.curation_shard(2, 1, 400)
    assert list(docs.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert list(emb.columns) == ["vec_id", "embedding", "label"]
    assert len(docs) == len(emb) == 400
    assert docs["text"].duplicated().sum() >= int(400 * gen.EXACT_SHARE)
    assert len(near) == int(400 * gen.NEAR_SHARE)
    texts = docs.set_index("doc_id")["text"]
    for a, b in near:
        wa, wb = texts[a].split(), texts[b].split()
        assert len(wa) == len(wb) >= 30
        assert sum(x != y for x, y in zip(wa, wb)) == 1
