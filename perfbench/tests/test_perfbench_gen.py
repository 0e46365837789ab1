"""The benchmark's input generators are pure functions of the seed."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_tables_deterministic_per_seed():
    a, b, c = gen.tables(5), gen.tables(5), gen.tables(6)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == gen.TABLE_ROWS.get(name, a[name].num_rows)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_raw_days_deterministic_and_cover_the_defect_mix():
    day = gen.raw_day(11, 3, 2)
    assert day == gen.raw_day(11, 3, 2)
    assert day != gen.raw_day(12, 3, 2)
    assert day != gen.raw_day(11, 4, 2)
    assert len({d["city_name"] for d in day}) >= 20
    docs = [d for k in range(40) for d in gen.raw_day(11, k, 2)]
    assert any("wind" not in d or "main" not in d or "weather" not in d for d in docs)
    assert any(d.get("weather") == [] for d in docs)
    assert any(d["dt"] is None for d in docs)
    assert any(None in d.get("main", {}).values() for d in docs)
    assert any(abs(d.get("main", {}).get("temp", 0)) > 100 for d in docs)


def test_write_raw_day_one_file_per_document(tmp_path):
    paths = gen.write_raw_day(3, 0, 2, str(tmp_path))
    assert sorted(paths) == sorted(str(p) for p in tmp_path.iterdir())
    assert len(paths) == len(gen.raw_day(3, 0, 2))


def test_ingest_batches_deterministic_per_seed():
    a = gen.ingest_batches(7, 8, 10, 20)
    b = gen.ingest_batches(7, 8, 10, 20)
    c = gen.ingest_batches(8, 8, 10, 20)
    assert len(a) == 8
    assert all(x[0].equals(y[0]) and x[1].equals(y[1]) for x, y in zip(a, b))
    assert any(not x[0].equals(y[0]) for x, y in zip(a, c))
    assert sum(d.num_rows for d, _ in a) == 80
    assert sum(o.num_rows for _, o in a) == 160
    ids = [i for d, _ in a for i in d.column("doc_id").to_pylist()]
    assert sorted(ids) == list(range(80))


def test_query_order_deterministic_per_seed():
    names = [f"q{i}" for i in range(30)]
    a = gen.query_order(1, names, 3)
    assert a == gen.query_order(1, names, 3)
    assert a != gen.query_order(2, names, 3)
    assert len(a) == 90
    for p in range(3):
        assert sorted(a[30 * p:30 * (p + 1)]) == sorted(names)

