from perfbench import fixtures


def test_same_seed_same_pages_digest():
    assert fixtures.pages_digest(7, 24) == fixtures.pages_digest(7, 24)


def test_other_seed_other_pages_digest():
    assert fixtures.pages_digest(7, 24) != fixtures.pages_digest(8, 24)


def test_suite_tables_are_shipped(tmp_path):
    out = fixtures.copy_suite_tables(tmp_path / "sf")
    for name in fixtures.SUITE_TABLES:
        got = (out / f"{name}.parquet").read_bytes()
        assert got == (fixtures.SUITE_DATA / f"{name}.parquet").read_bytes()
