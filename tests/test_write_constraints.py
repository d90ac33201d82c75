"""Declared constraints hold on every write path of a managed table.

Each write op (insert_into, insert_values, update_table, merge_upsert,
copy_from) is driven into each constraint it can break (NOT NULL,
CHECK, ENUM, PRIMARY KEY). The write must raise ValueError with the
constraint's message and leave the table's rows and its version
history exactly as they were. UPDATE semantics are checked against
DuckDB, which evaluates every SET expression and the WHERE on the
row as it was before the update and rejects the same three
violations.
"""

from __future__ import annotations

import pytest

DDL = ("id INTEGER PRIMARY KEY, n INTEGER NOT NULL, "
       "tag ENUM('ok', 'bad'), code INTEGER, CHECK (n >= 0)")
SCHEMA = "id INT, n INT, tag STRING, code INT"
ROWS = [(1, 1, "ok", 10), (2, 2, "bad", 20)]

# constraint → (violating new row, UPDATE SET on id = 1, match)
VIOLATIONS = {
    "not_null": ((3, None, "ok", 30), {"n": "NULL"}, "NOT NULL"),
    "check": ((3, -1, "ok", 30), {"n": "n - 5"}, "CHECK"),
    "enum": ((3, 1, "meh", 30), {"tag": "'meh'"}, "ENUM domain"),
    "primary_key": ((1, 5, "ok", 30), {"id": "id + 1"}, "duplicate key"),
}


def _write(engine, spark, tmp_path, op, name, row, set_exprs):
    if op == "insert_into":
        engine.insert_into(name, spark.createDataFrame([row], SCHEMA))
    elif op == "insert_values":
        engine.insert_values(name, [row])
    elif op == "update_table":
        engine.update_table(name, set_exprs, "id = 1")
    elif op == "merge_upsert":
        if row[0] == 1:
            # new code, existing id: the merge inserts a second id 1
            engine.merge_upsert(
                name, spark.createDataFrame([row], SCHEMA), on=["code"]
            )
        else:
            # updates the existing id 1 row with the violating values
            engine.merge_upsert(
                name, spark.createDataFrame([(1, *row[1:])], SCHEMA),
                on=["id"],
            )
    else:
        path = str(tmp_path / "src.parquet")
        spark.createDataFrame([row], SCHEMA).write.parquet(path)
        engine.copy_from(name, path)


@pytest.mark.parametrize("constraint", sorted(VIOLATIONS))
@pytest.mark.parametrize(
    "op",
    ["insert_into", "insert_values", "update_table", "merge_upsert",
     "copy_from"],
)
def test_write_rejects_violation(engine, spark, tmp_path, op, constraint):
    name = f"wc_{op}_{constraint}"
    engine.create_table(name, DDL)
    try:
        engine.insert_values(name, ROWS)
        history = engine.history(name)
        row, set_exprs, match = VIOLATIONS[constraint]
        with pytest.raises(ValueError, match=match):
            _write(engine, spark, tmp_path, op, name, row, set_exprs)
        assert engine.history(name) == history
        assert sorted(map(tuple, engine.table(name).collect())) == ROWS
    finally:
        engine.drop_table(name)


@pytest.mark.parametrize("large", [False, True], ids=["small", "large"])
def test_first_violation_in_order(engine, spark, monkeypatch, large):
    """A write breaking several constraints reports one: the first
    declared rule, then the PRIMARY KEY, then MERGE's duplicate source
    keys — on a small table's one-job rewrite and on a large table's
    append or rewrite alike."""
    if large:
        monkeypatch.setattr(engine, "_COMPACT_BYTES", 0)
    name = f"wc_order_{'large' if large else 'small'}"
    engine.create_table(name, DDL)
    try:
        engine.insert_values(name, ROWS)
        history = engine.history(name)
        for row, match in (((1, None, "meh", 30), "NOT NULL"),
                           ((1, -1, "meh", 30), "ENUM domain"),
                           ((1, -1, "ok", 30), "CHECK")):
            with pytest.raises(ValueError, match=match):
                engine.insert_into(name, spark.createDataFrame([row], SCHEMA))
        for src, on, match in (
                ([(1, 5, "ok", 77), (2, 6, "ok", 77)], ["code"],
                 r"duplicate key \['id'\]"),
                ([(1, -1, "ok", 10), (1, 2, "ok", 10)], ["id"], "CHECK")):
            with pytest.raises(ValueError, match=match):
                engine.merge_upsert(
                    name, spark.createDataFrame(src, SCHEMA), on=on)
        assert engine.history(name) == history
        assert sorted(map(tuple, engine.table(name).collect())) == ROWS
    finally:
        engine.drop_table(name)


def test_update_matches_duckdb(engine):
    """UPDATE reads the pre-update row in every SET expression and in
    the WHERE, and rejects NOT NULL, CHECK and PRIMARY KEY violations
    — the same outcomes as DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE u (k INTEGER, v INTEGER, w INTEGER)")
    con.execute("INSERT INTO u VALUES (1, 1, 0), (2, 7, 0)")
    con.execute("UPDATE u SET v = v * 10, w = v WHERE v < 5")
    want = con.execute("SELECT * FROM u ORDER BY k").fetchall()
    assert want == [(1, 10, 1), (2, 7, 0)]
    engine.create_table("upd_u", "k INTEGER, v INTEGER, w INTEGER")
    engine.insert_values("upd_u", [(1, 1, 0), (2, 7, 0)])
    assert engine.update_table("upd_u", {"v": "v * 10", "w": "v"},
                               "v < 5") == 1
    assert sorted(map(tuple, engine.table("upd_u").collect())) == want
    engine.drop_table("upd_u")

    con.execute("CREATE TABLE c (id INTEGER PRIMARY KEY, "
                "n INTEGER NOT NULL, CHECK (n >= 0))")
    con.execute("INSERT INTO c VALUES (1, 1), (2, 2)")
    engine.create_table(
        "upd_c", "id INTEGER PRIMARY KEY, n INTEGER NOT NULL, CHECK (n >= 0)"
    )
    engine.insert_values("upd_c", [(1, 1), (2, 2)])
    for col, expr, match in (("n", "NULL", "NOT NULL"),
                             ("n", "n - 5", "CHECK"),
                             ("id", "2", "duplicate key")):
        with pytest.raises(duckdb.ConstraintException):
            con.execute(f"UPDATE c SET {col} = {expr} WHERE id = 1")
        with pytest.raises(ValueError, match=match):
            engine.update_table("upd_c", {col: expr}, "id = 1")
    want = con.execute("SELECT * FROM c ORDER BY id").fetchall()
    assert sorted(map(tuple, engine.table("upd_c").collect())) == want
    engine.drop_table("upd_c")


def test_table_files_decimal_zone_map(engine):
    """table_files on a DECIMAL(<=18) column: pyarrow cannot decode the
    INT64-backed statistics, so that column's zone map is absent and
    the call still lists every file with the other columns' ranges."""
    import decimal

    engine.create_table("tf_dec", "id BIGINT, price DECIMAL(12,2)")
    engine.insert_values("tf_dec", [(1, decimal.Decimal("1.50")),
                                    (7, decimal.Decimal("9.25"))])
    rows = engine.table_files("tf_dec").collect()
    assert {(r.column, r.min_val, r.max_val) for r in rows} >= {("id", "1", "7")}
    assert {r.n_rows for r in rows} == {2}
    engine.drop_table("tf_dec")


def test_rename_column_keeps_constraints_like_duckdb(engine):
    """RENAME COLUMN keeps the column's NOT NULL, DEFAULT, CHECK and
    PRIMARY KEY, as DuckDB does; a string literal in the CHECK that
    spells the old name is not renamed."""
    import duckdb

    ddl = ("id INTEGER PRIMARY KEY, q INTEGER NOT NULL DEFAULT 5, "
           "s VARCHAR, CHECK (q >= 0 AND s <> 'q')")
    bad = [(2, None, "b"), (3, -1, "b"), (1, 2, "b"), (4, 2, "q")]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE r ({ddl})")
    con.execute("INSERT INTO r VALUES (1, 1, 'a')")
    engine.create_table("ren_c", ddl)
    engine.insert_values("ren_c", [(1, 1, "a")])
    try:
        for old, new in (("q", "qq"), ("id", "pk")):
            con.execute(f"ALTER TABLE r RENAME COLUMN {old} TO {new}")
            engine.rename_column("ren_c", old, new)
            for row in bad:
                with pytest.raises(duckdb.ConstraintException):
                    con.execute("INSERT INTO r VALUES (?, ?, ?)", row)
                with pytest.raises(ValueError):
                    engine.insert_values("ren_c", [row])
        con.execute("INSERT INTO r (pk, s) VALUES (5, 'c')")
        engine.insert_values("ren_c", [(5, "c")], columns=["pk", "s"])
        con.execute("INSERT INTO r VALUES (6, 2, 'b')")
        engine.insert_values("ren_c", [(6, 2, "b")])
        want = con.execute("SELECT * FROM r ORDER BY pk").fetchall()
        assert sorted(map(tuple, engine.table("ren_c").collect())) == want
        assert engine.table("ren_c").columns == ["pk", "qq", "s"]
    finally:
        engine.drop_table("ren_c")


def test_drop_column_constraints_like_duckdb(engine):
    """DROP COLUMN takes the column's NOT NULL, DEFAULT and
    single-column CHECK with it, as DuckDB does, so a later insert of
    the remaining columns succeeds; a column in a PRIMARY KEY, a
    UNIQUE key, an index or a CHECK naming another column is refused
    by both, with the table unchanged."""
    import duckdb

    ddl = ("id INTEGER PRIMARY KEY, q INTEGER NOT NULL DEFAULT 3, "
           "s VARCHAR, CHECK (q >= 0)")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE d ({ddl})")
    con.execute("INSERT INTO d VALUES (1, 1, 'a')")
    engine.create_table("drop_c", ddl)
    try:
        engine.insert_values("drop_c", [(1, 1, "a")])
        con.execute("ALTER TABLE d DROP COLUMN q")
        engine.drop_column("drop_c", "q")
        con.execute("INSERT INTO d VALUES (2, 'b')")
        engine.insert_values("drop_c", [(2, "b")])
        want = con.execute("SELECT * FROM d ORDER BY id").fetchall()
        assert sorted(map(tuple, engine.table("drop_c").collect())) == want
        with pytest.raises(duckdb.ConstraintException):
            con.execute("INSERT INTO d VALUES (2, 'c')")
        with pytest.raises(ValueError, match="duplicate key"):
            engine.insert_values("drop_c", [(2, "c")])
    finally:
        engine.drop_table("drop_c")

    refused = [
        ("id INTEGER PRIMARY KEY, q INTEGER", "id", None),
        ("id INTEGER, q INTEGER UNIQUE", "q", None),
        ("id INTEGER, q INTEGER, CHECK (q > id)", "q", None),
        ("id INTEGER, q INTEGER", "q", ["q"]),
    ]
    for ddl, col, index in refused:
        con = duckdb.connect()
        con.execute(f"CREATE TABLE r ({ddl})")
        engine.create_table("drop_r", ddl)
        try:
            if index:
                con.execute(f"CREATE INDEX ix ON r ({', '.join(index)})")
                engine.create_index("drop_ix", "drop_r", index)
            with pytest.raises(duckdb.CatalogException):
                con.execute(f"ALTER TABLE r DROP COLUMN {col}")
            with pytest.raises(ValueError, match="cannot drop column"):
                engine.drop_column("drop_r", col)
            assert engine.table("drop_r").columns == ["id", "q"]
            con.execute("INSERT INTO r VALUES (1, 2)")
            engine.insert_values("drop_r", [(1, 2)])
            assert engine.table("drop_r").collect() == [(1, 2)]
        finally:
            engine.drop_index("drop_ix", if_exists=True)
            engine.drop_table("drop_r")


def test_add_column_default_fills_later_inserts_like_duckdb(engine, spark):
    """ADD COLUMN ... DEFAULT fills the existing rows and every later
    insert that omits the column, as in DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE a (id INTEGER, s VARCHAR)")
    con.execute("INSERT INTO a VALUES (1, 'a')")
    con.execute("ALTER TABLE a ADD COLUMN w INTEGER DEFAULT 7")
    con.execute("INSERT INTO a (id, s) VALUES (2, 'b')")
    con.execute("INSERT INTO a BY NAME SELECT 'c' AS s, 3 AS id")
    want = con.execute("SELECT * FROM a ORDER BY id").fetchall()
    assert want == [(1, "a", 7), (2, "b", 7), (3, "c", 7)]
    engine.create_table("add_d", "id INTEGER, s VARCHAR")
    try:
        engine.insert_values("add_d", [(1, "a")])
        engine.add_column("add_d", "w", "INTEGER", default=7)
        engine.insert_values("add_d", [(2, "b")], columns=["id", "s"])
        engine.insert_by_name(
            "add_d", spark.createDataFrame([("c", 3)], "s STRING, id INT"))
        got = sorted(map(tuple, engine.table("add_d").collect()))
        assert got == want
    finally:
        engine.drop_table("add_d")
