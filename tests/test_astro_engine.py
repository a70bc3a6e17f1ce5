"""End-to-end Astro engine tests: DDL → LOAD → SELECT cycles mirroring the
reference suites (HBaseBasicQueriesSuite / HBaseTpcMiniTestSuite /
HBaseBasicOperationSuite), with fixture shapes from FIXTURES.md.
"""

import os

import pytest

from spark_sql_on_hbase_spark.session import AstroSession

# FIXTURES.md §3: TestTable 7-type coverage, 3-part key (doublecol, strcol, intcol)
TESTTABLE_DDL = """
CREATE TABLE TestTable (
  strcol STRING, bytecol BYTE, shortcol SHORT, intcol INT,
  longcol LONG, floatcol FLOAT, doublecol DOUBLE,
  PRIMARY KEY (doublecol, strcol, intcol))
MAPPED BY (ht_testtable, COLS=[bytecol=cf1.hbytecol, shortcol=cf1.hshortcol,
  longcol=cf2.hlongcol, floatcol=cf2.hfloatcol])
"""

TESTTABLE_CSV = """Row2,b,12342,23456782,3456789012342,45657.82,5678912.345682
Row4,d,12344,23456784,3456789012344,45657.84,5678912.345684
Row5,e,12345,23456785,3456789012345,45657.85,5678912.345685
"""


@pytest.fixture()
def astro(spark, tmp_path):
    return AstroSession(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def loaded(astro, tmp_path):
    csv = tmp_path / "testTable.txt"
    csv.write_text(TESTTABLE_CSV)
    astro.sql(TESTTABLE_DDL)
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE TestTable")
    return astro


def test_create_and_describe(astro):
    astro.sql(TESTTABLE_DDL)
    desc = {r.col_name: (r.data_type, r.comment) for r in astro.sql("DESCRIBE TestTable").collect()}
    assert desc["doublecol"][1] == "KEY COLUMN (0)"
    assert desc["strcol"][1] == "KEY COLUMN (1)"
    assert desc["intcol"][1] == "KEY COLUMN (2)"
    assert desc["bytecol"] == ("byte", "NON KEY COLUMN (cf1.hbytecol)")
    assert desc["floatcol"] == ("float", "NON KEY COLUMN (cf2.hfloatcol)")
    tables = [(r.namespace, r.tableName) for r in astro.sql("SHOW TABLES").collect()]
    assert ("default", "TestTable") in tables


def test_create_validation(astro):
    with pytest.raises(ValueError):
        astro.sql("CREATE TABLE bad (a INT, b INT) MAPPED BY (hbad)")  # no PK
    with pytest.raises(ValueError):
        astro.sql(
            "CREATE TABLE bad (a INT, b INT, PRIMARY KEY(a)) "
            "MAPPED BY (hbad, COLS=[a=cf.q])"
        )  # key col mapped


def test_describe_extended_layout(loaded):
    desc = {
        r.col_name: (r.data_type, r.comment)
        for r in loaded.sql("DESCRIBE EXTENDED TestTable").collect()
    }
    assert desc["doublecol"][1] == "KEY COLUMN (0)"  # column section intact
    assert desc["encoding"][0] == "binaryformat"
    assert desc["layout"][0] == "range"
    assert desc["align_prefix"][0] == "0"
    assert int(desc["region_files"][0]) >= 1
    assert desc["pending_merge"][0] == "false"
    # an upsert flips pending_merge until COMPACT restores the fast path
    loaded.sql(
        "INSERT INTO TestTable VALUES ('Row2', 98, 12399, 23456782, "
        "3456789012342, 45657.82, 5678912.345682)"
    )
    desc = {r.col_name: r.data_type for r in loaded.sql("DESC EXTENDED TestTable").collect()}
    assert desc["pending_merge"] == "true"
    loaded.sql("COMPACT TABLE TestTable")
    desc = {r.col_name: r.data_type for r in loaded.sql("DESC EXTENDED TestTable").collect()}
    assert desc["pending_merge"] == "false"


def test_load_and_select_all(loaded):
    rows = loaded.sql("SELECT * FROM TestTable ORDER BY strcol").collect()
    assert len(rows) == 3
    assert rows[0].strcol == "Row2"
    r = {x.strcol: x for x in rows}
    assert r["Row2"].intcol == 23456782
    assert r["Row4"].longcol == 3456789012344
    assert abs(r["Row5"].floatcol - 45657.85) < 0.01
    assert abs(r["Row5"].doublecol - 5678912.345685) < 1e-6


def test_point_and_range_queries(loaded):
    # point query on full key (reference Tpc Query 1 analog)
    rows = loaded.sql(
        "SELECT strcol, shortcol FROM TestTable "
        "WHERE doublecol = 5678912.345684 AND strcol = 'Row4' AND intcol = 23456784"
    ).collect()
    assert len(rows) == 1 and rows[0].shortcol == 12344
    # range on leading key
    rows = loaded.sql(
        "SELECT strcol FROM TestTable WHERE doublecol > 5678912.345682 ORDER BY strcol"
    ).collect()
    assert [r.strcol for r in rows] == ["Row4", "Row5"]


def test_aggregate_and_join_inherited_surface(loaded):
    rows = loaded.sql(
        "SELECT count(*) AS n, sum(shortcol) AS s, avg(intcol) AS a FROM TestTable"
    ).collect()
    assert rows[0].n == 3 and rows[0].s == 12342 + 12344 + 12345
    # self join (inherited relational surface over Astro scans)
    rows = loaded.sql(
        "SELECT a.strcol FROM TestTable a JOIN TestTable b ON a.intcol = b.intcol "
        "WHERE b.strcol = 'Row2'"
    ).collect()
    assert [r.strcol for r in rows] == ["Row2"]


def test_insert_values_and_select(loaded):
    loaded.sql(
        "INSERT INTO TestTable VALUES ('Row9', 1, 999, 111, 222, 1.5, 9.25)"
    )
    rows = loaded.sql("SELECT * FROM TestTable WHERE strcol = 'Row9'").collect()
    assert len(rows) == 1 and rows[0].doublecol == 9.25
    assert loaded.sql("SELECT count(*) AS n FROM TestTable").collect()[0].n == 4


def test_insert_select(loaded, spark):
    loaded.sql(
        "CREATE TABLE t2 (strcol STRING, intcol INT, PRIMARY KEY(strcol)) MAPPED BY (ht2)"
    )
    loaded.sql("INSERT INTO t2 SELECT strcol, intcol FROM TestTable")
    assert loaded.sql("SELECT count(*) AS n FROM t2").collect()[0].n == 3


def test_alter_add_drop(loaded):
    loaded.sql("ALTER TABLE TestTable ADD extra INT MAPPED BY (cf3.extra)")
    desc = {r.col_name for r in loaded.sql("DESCRIBE TestTable").collect()}
    assert "extra" in desc
    loaded.sql("ALTER TABLE TestTable DROP extra")
    desc = {r.col_name for r in loaded.sql("DESCRIBE TestTable").collect()}
    assert "extra" not in desc
    with pytest.raises(ValueError):
        loaded.sql("ALTER TABLE TestTable DROP strcol")  # key col


def test_null_semantics_on_load(astro, tmp_path):
    # FIXTURES.md §10: empty CSV field ⇒ NULL
    csv = tmp_path / "nullable.txt"
    csv.write_text("row1,,8,101\nrow2,2,,102\nrow3,3,10,\nrow4,,,\n")
    astro.sql(
        "CREATE TABLE nulltab (k STRING, a INT, b INT, c INT, PRIMARY KEY(k)) MAPPED BY (hnull)"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE nulltab")
    rows = {r.k: r for r in astro.sql("SELECT * FROM nulltab").collect()}
    assert rows["row1"].a is None and rows["row1"].b == 8
    assert rows["row2"].b is None
    assert rows["row4"].a is None and rows["row4"].b is None and rows["row4"].c is None
    n = astro.sql("SELECT count(*) AS n FROM nulltab WHERE a IS NULL").collect()[0].n
    assert n == 2


def test_drop_table(loaded):
    loaded.sql("DROP TABLE TestTable")
    assert not loaded.catalog.table_exists("TestTable")


def test_region_files_sorted_with_bounds(loaded):
    meta = loaded.catalog.get_table("TestTable")
    assert meta.regions, "bounds recorded"
    for r in meta.regions:
        assert r.min_rowkey_hex <= r.max_rowkey_hex
    # regions disjoint & ordered
    hexes = sorted((r.min_rowkey_hex, r.max_rowkey_hex) for r in meta.regions)
    for (a_min, a_max), (b_min, b_max) in zip(hexes, hexes[1:]):
        assert a_max <= b_min


def test_stringformat_table(astro, tmp_path):
    # FIXTURES.md §2 analog: stringformat table, 1-col string key
    csv = tmp_path / "sf.txt"
    csv.write_text("01857000000007,1857,7\n01857000000008,1857,8\n")
    astro.sql(
        "CREATE TABLE sst (strkey STRING, item INT, ticket INT, PRIMARY KEY(strkey)) "
        "MAPPED BY (hsst) IN stringformat"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE sst")
    rows = astro.sql("SELECT * FROM sst WHERE item = 1857 ORDER BY ticket").collect()
    assert [r.ticket for r in rows] == [7, 8]


def test_many_to_one_mapping(astro, tmp_path):
    # FIXTURES.md §4: two logical tables over one physical store
    csv = tmp_path / "ta.txt"
    csv.write_text("a,1\nb,2\n")
    astro.sql("CREATE TABLE ta (c1 STRING, c2 INT, PRIMARY KEY(c1)) MAPPED BY (shared_ht)")
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE ta")
    astro.sql("CREATE TABLE tb (c1 STRING, c2 INT, PRIMARY KEY(c1)) MAPPED BY (shared_ht)")
    # tb reads the same physical data (schema-on-read)
    assert astro.sql("SELECT count(*) AS n FROM tb").collect()[0].n == 2


def test_many_to_one_different_column_subsets(astro, tmp_path):
    """Schema-on-read over one physical table with DIFFERENT non-key
    subsets per logical table (doc §16.1.1; ta/tb over ht,
    TestBaseWithSplitData.scala:34-92): each side projects the columns it
    maps, writes through either side are visible through both, a column
    the other writer never populated reads as NULL (absent cell), and
    pruned point lookups work through the second table."""
    astro.sql(
        "CREATE TABLE m2o_a (k INT, a STRING, b DOUBLE, PRIMARY KEY (k)) "
        "MAPPED BY (shared_m2o, COLS=[a=cf.qa, b=cf.qb])"
    )
    astro.sql("INSERT INTO m2o_a VALUES (1, 'x', 1.5)")
    astro.sql("INSERT INTO m2o_a VALUES (2, 'y', 2.5)")
    # second logical table created AFTER data exists: narrower subset
    astro.sql(
        "CREATE TABLE m2o_b (k INT, a STRING, PRIMARY KEY (k)) "
        "MAPPED BY (shared_m2o, COLS=[a=cf.qa])"
    )
    desc_tables = {t for _, t in astro.catalog.list_tables()}
    assert {"m2o_a", "m2o_b"} <= desc_tables
    rows = astro.sql("SELECT k, a FROM m2o_b ORDER BY k").collect()
    assert [(r.k, r.a) for r in rows] == [(1, "x"), (2, "y")]
    assert astro.sql("SELECT * FROM m2o_b").columns == ["k", "a"]

    # write through the NARROW table: visible through both; the column
    # m2o_b doesn't map (b) reads NULL for that row through m2o_a
    astro.sql("INSERT INTO m2o_b VALUES (3, 'z')")
    rows = astro.sql("SELECT k, a, b FROM m2o_a ORDER BY k").collect()
    assert [(r.k, r.a, r.b) for r in rows] == [
        (1, "x", 1.5), (2, "y", 2.5), (3, "z", None),
    ]
    # pruned point lookup through the second table (stale-region refresh)
    rel_b = astro.relation("m2o_b")
    df, res = rel_b.scan_where("k = 3")
    assert [(r.k, r.a) for r in df.collect()] == [(3, "z")]
    assert len(res.files) < res.total or res.total == 1
    # upsert through m2o_b resolves newest-cell-wins through m2o_a too,
    # and b survives (absent cell never erases)
    astro.sql("INSERT INTO m2o_b VALUES (1, 'xx')")
    r1 = astro.sql("SELECT a, b FROM m2o_a WHERE k = 1").collect()[0]
    assert (r1.a, r1.b) == ("xx", 1.5)
    # a third mapping with a DIFFERENT key schema over the same physical
    # table must be rejected (the row key is shared)
    with pytest.raises(ValueError):
        astro.sql(
            "CREATE TABLE m2o_bad (k STRING, a STRING, PRIMARY KEY (k)) "
            "MAPPED BY (shared_m2o, COLS=[a=cf.qa])"
        )
    # shared NON-key columns must also agree (ADVICE r4): a conflicting
    # dtype for the same column name — or the same cf.qualifier cell
    # under a different name — would only surface as a parquet type
    # mismatch at scan time; reject at CREATE instead
    with pytest.raises(ValueError, match="shared column a"):
        astro.sql(
            "CREATE TABLE m2o_bad2 (k INT, a INT, PRIMARY KEY (k)) "
            "MAPPED BY (shared_m2o, COLS=[a=cf.qa])"
        )
    with pytest.raises(ValueError, match=r"cell cf\.qb"):
        astro.sql(
            "CREATE TABLE m2o_bad3 (k INT, b2 STRING, PRIMARY KEY (k)) "
            "MAPPED BY (shared_m2o, COLS=[b2=cf.qb])"
        )
    # same subset re-mapped consistently under a new logical name is fine
    astro.sql(
        "CREATE TABLE m2o_c (k INT, a STRING, PRIMARY KEY (k)) "
        "MAPPED BY (shared_m2o, COLS=[a=cf.qa])"
    )
    assert astro.sql("SELECT count(*) AS n FROM m2o_c").collect()[0].n == 3


def test_incremental_region_stats_refresh(astro, monkeypatch):
    """Sibling appends in many-to-one mappings must trigger an
    INCREMENTAL stats job — reading only the unseen fragment files, not
    the whole table (VERDICT r5 item 3: at 10⁵-10⁶ files a full restat
    per sibling append is the scale-killer)."""
    import os

    from spark_sql_on_hbase_spark.relation import AstroRelation

    astro.sql(
        "CREATE TABLE inc_a (k INT, v DOUBLE, PRIMARY KEY (k)) "
        "MAPPED BY (inc_shared, COLS=[v=cf.v])"
    )
    astro.sql("INSERT INTO inc_a VALUES (1, 1.5)")
    astro.sql("INSERT INTO inc_a VALUES (2, 2.5)")
    astro.sql(
        "CREATE TABLE inc_b (k INT, v DOUBLE, PRIMARY KEY (k)) "
        "MAPPED BY (inc_shared, COLS=[v=cf.v])"
    )
    rel_b = astro.relation("inc_b")
    rel_b._ensure_fresh_regions()  # sync b's view before the append
    known = {os.path.basename(r.path) for r in rel_b.meta.regions}
    assert len(known) == 2
    # sibling appends a third fragment b hasn't seen
    astro.sql("INSERT INTO inc_a VALUES (3, 3.5)")

    stat_reads: list[tuple[str, ...]] = []
    orig = AstroRelation._read_fragments

    def spy(self, *paths):
        stat_reads.append(paths)
        return orig(self, *paths)

    monkeypatch.setattr(AstroRelation, "_read_fragments", spy)
    rel_b._ensure_fresh_regions()
    monkeypatch.setattr(AstroRelation, "_read_fragments", orig)
    # the stats job read ONLY the new fragment file(s), never the dir
    assert len(stat_reads) == 1
    statted = {os.path.basename(p) for p in stat_reads[0]}
    assert statted and not (statted & known), stat_reads
    # merged metadata is complete and correct: 3 regions, scans exact
    assert len(rel_b.meta.regions) == 3
    rows = astro.sql("SELECT k, v FROM inc_b ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 1.5), (2, 2.5), (3, 3.5)]
    df, res = rel_b.scan_where("k = 3")
    assert [r.k for r in df.collect()] == [3]
    assert len(res.files) == 1  # pruning still exact after the merge
    # VANISHED files (sibling compaction) fall back to a full restat
    astro.sql("COMPACT TABLE inc_a")
    rel_b2 = astro.relation("inc_b")
    rel_b2._ensure_fresh_regions()
    assert sum(r.num_rows for r in rel_b2.meta.regions) == 3
    rows = astro.sql("SELECT k, v FROM inc_b ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 1.5), (2, 2.5), (3, 3.5)]


def test_upsert_overwrites_by_key(loaded):
    # HBase Put semantics: re-inserting an existing row key upserts
    # (newest cell wins per column, HBaseRelation.scala:911-941)
    loaded.sql("INSERT INTO TestTable VALUES ('Row2', 7, 999, 23456782, 1, 2.5, 5678912.345682)")
    rows = loaded.sql(
        "SELECT * FROM TestTable WHERE strcol = 'Row2'"
    ).collect()
    assert len(rows) == 1, "same key must not duplicate"
    assert rows[0].shortcol == 999
    assert loaded.sql("SELECT count(*) AS n FROM TestTable").collect()[0].n == 3


def test_upsert_null_does_not_erase(loaded):
    # a null column in the newer insert is an ABSENT cell: the older value
    # stays visible (HBase Puts cannot write nulls; INSERT skips null
    # columns, HBaseRelation.scala:677-694)
    loaded.sql("INSERT INTO TestTable VALUES ('Row4', null, 777, 23456784, null, null, 5678912.345684)")
    r = loaded.sql("SELECT * FROM TestTable WHERE strcol = 'Row4'").collect()[0]
    assert r.shortcol == 777  # updated
    assert r.longcol == 3456789012344  # preserved from original load
    assert abs(r.floatcol - 45657.84) < 0.01  # preserved


def test_duplicate_keys_in_one_load(astro, tmp_path):
    csv = tmp_path / "dups.txt"
    csv.write_text("k1,1\nk1,2\nk2,3\n")
    astro.sql("CREATE TABLE duptab (k STRING, v INT, PRIMARY KEY(k)) MAPPED BY (hdup)")
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE duptab")
    assert astro.sql("SELECT count(*) AS n FROM duptab").collect()[0].n == 2


def test_compact_restores_fast_path(loaded):
    rel = loaded.relation("TestTable")
    loaded.sql("INSERT INTO TestTable VALUES ('Row2', 7, 999, 23456782, 1, 2.5, 5678912.345682)")
    assert rel.needs_merge()
    rel.compact()
    assert not rel.needs_merge()
    rows = loaded.sql("SELECT * FROM TestTable WHERE strcol = 'Row2'").collect()
    assert len(rows) == 1 and rows[0].shortcol == 999


def test_compact_table_sql(loaded):
    # re-insert Row2's exact key → fragment overlap → merge needed
    loaded.sql(
        "INSERT INTO TestTable VALUES ('Row2', 9, 1, 23456782, 1, 1.0, 5678912.345682)"
    )
    rel = loaded.relation("TestTable")
    assert rel.needs_merge()
    msg = loaded.sql("COMPACT TABLE TestTable").collect()[0].result
    assert "compacted" in msg
    assert not rel.needs_merge()
    # upsert of an existing key: row count unchanged, new cell visible
    assert loaded.sql("SELECT count(*) AS n FROM TestTable").collect()[0].n == 3
    assert loaded.sql("SELECT bytecol FROM TestTable WHERE strcol = 'Row2'").collect()[0].bytecol == 9


def test_load_parall_grammar(astro, tmp_path):
    """Reference grammar LOAD PARALL DATA [LOCAL] INPATH (HBaseSQLParser.scala:214)."""
    csv = tmp_path / "parall.txt"
    csv.write_text(TESTTABLE_CSV)
    astro.sql(TESTTABLE_DDL)
    astro.sql(f"LOAD PARALL DATA INPATH '{csv}' INTO TABLE TestTable")
    assert astro.sql("SELECT count(*) AS n FROM TestTable").collect()[0].n == 3
    # plain form still parses
    astro.sql(f"LOAD DATA LOCAL INPATH '{csv}' OVERWRITE INTO TABLE TestTable")
    assert astro.sql("SELECT count(*) AS n FROM TestTable").collect()[0].n == 3


def test_ddl_align_option_enables_one_phase(astro, tmp_path):
    """Pure-SQL path to the zero-Exchange aggregation: CREATE TABLE with
    OPTIONS(align=1) → LOAD → key-prefix GROUP BY plans one-phase."""
    from spark_sql_on_hbase_spark.plans.aggregate import AggSpec, agg_by_key_prefix, executed_plan

    astro.sql(
        "CREATE TABLE at (g INT, c INT, v DOUBLE, PRIMARY KEY (g, c)) "
        "MAPPED BY (h_at, COLS=[v=f.v]) OPTIONS (regions=4, align=1)"
    )
    csv = tmp_path / "at.txt"
    csv.write_text("".join(f"{g},{c},{g * 10 + c}.5\n" for g in range(1, 9) for c in range(1, 4)))
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE at")
    rel = astro.relation("at")
    assert rel.meta.layout == "bucketed" and rel.meta.align_prefix == 1
    df, used = agg_by_key_prefix(rel, ["g"], [AggSpec("n", "count"), AggSpec("sv", "sum", "v")])
    assert used is True
    assert "Exchange" not in executed_plan(df)
    assert df.count() == 8
    with pytest.raises(ValueError):
        astro.sql(
            "CREATE TABLE bad_align (a INT, PRIMARY KEY (a)) "
            "MAPPED BY (hba) OPTIONS (align=2)"
        )


def test_insert_overwrite(astro):
    """INSERT OVERWRITE atomically replaces the table's contents (ours —
    the reference appends only, HBaseRelation.scala:660-663)."""
    astro.sql(
        "CREATE TABLE ow (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (ow_ht)"
    )
    astro.sql("INSERT INTO ow VALUES (1, 'a')")
    astro.sql("INSERT INTO ow VALUES (2, 'b')")
    astro.sql("INSERT OVERWRITE ow VALUES (9, 'z')")
    rows = astro.sql("SELECT k, v FROM ow ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(9, "z")]
    # OVERWRITE ... SELECT, including self-referencing source (reads the
    # pre-overwrite files: the swap writes to a sibling temp dir first)
    astro.sql("INSERT INTO ow VALUES (10, 'y')")
    astro.sql(
        "INSERT OVERWRITE TABLE ow SELECT k + 100, upper(v) FROM ow WHERE k >= 10"
    )
    rows = astro.sql("SELECT k, v FROM ow ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(110, "Y")]
    # overwrite of an EMPTY table is a plain first write
    astro.sql(
        "CREATE TABLE ow2 (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (ow2_ht)"
    )
    astro.sql("INSERT OVERWRITE ow2 VALUES (1, 'x')")
    assert astro.sql("SELECT count(*) AS n FROM ow2").collect()[0].n == 1
    # scans stay merge-free after the rewrite (clean sorted regions)
    assert not astro.relation("ow").needs_merge()


def test_merge_into(astro):
    """MERGE INTO: UPDATE via the LSM upsert path (no rewrite), INSERT
    via anti-join, DELETE via atomic rewrite — parity with the
    astro_upsert_merge newest-wins semantics."""
    astro.sql(
        "CREATE TABLE tgt (k INT, v STRING, n INT, PRIMARY KEY (k)) MAPPED BY (tgt_ht)"
    )
    for k, v, n in [(1, "a", 10), (2, "b", 20), (3, "c", 30)]:
        astro.sql(f"INSERT INTO tgt VALUES ({k}, '{v}', {n})")
    astro.sql(
        "CREATE TABLE src (k INT, v STRING, n INT, PRIMARY KEY (k)) MAPPED BY (src_ht)"
    )
    for k, v, n in [(2, "B", 200), (4, "D", 400)]:
        astro.sql(f"INSERT INTO src VALUES ({k}, '{v}', {n})")

    astro.sql(
        "MERGE INTO tgt t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n + t.n "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = astro.sql("SELECT k, v, n FROM tgt ORDER BY k").collect()
    assert [(r.k, r.v, r.n) for r in rows] == [
        (1, "a", 10), (2, "B", 220), (3, "c", 30), (4, "D", 400),
    ]
    # partial-column INSERT: unassigned columns land NULL; key required
    astro.sql(
        "MERGE INTO tgt t USING (SELECT 5 AS kk, 'E' AS vv) s ON t.k = s.kk "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, s.vv)"
    )
    r5 = astro.sql("SELECT v, n FROM tgt WHERE k = 5").collect()[0]
    assert (r5.v, r5.n) == ("E", None)
    # matched DELETE: survivors rewritten atomically
    astro.sql(
        "MERGE INTO tgt t USING (SELECT 1 AS kk UNION ALL SELECT 4 AS kk) s "
        "ON t.k = s.kk WHEN MATCHED THEN DELETE"
    )
    rows = astro.sql("SELECT k FROM tgt ORDER BY k").collect()
    assert [r.k for r in rows] == [2, 3, 5]
    # grammar guards
    import pytest as _pt

    from spark_sql_on_hbase_spark import ddl as _ddl

    with _pt.raises(ValueError, match="requires an alias"):
        _ddl.parse("MERGE INTO tgt USING (SELECT 1) ON k = 1 WHEN MATCHED THEN DELETE")
    with _pt.raises(ValueError, match="one WHEN MATCHED action"):
        _ddl.parse(
            "MERGE INTO tgt USING src s ON tgt.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v WHEN MATCHED THEN DELETE"
        )
    with _pt.raises(ValueError, match="key columns"):
        astro.sql(
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.v)"
        )
    with _pt.raises(ValueError, match="may not assign key"):
        astro.sql(
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET k = s.k + 1"
        )


def test_merge_grammar_nested_parens():
    """The USING subquery may contain nested parens and its own inner
    JOIN … ON — the greedy paren match must anchor on the outer
    `ON … WHEN` tail, not truncate at the first `)`."""
    from spark_sql_on_hbase_spark import ddl

    c = ddl.parse(
        "MERGE INTO tgt t USING (SELECT x.k AS kk, coalesce(y.v, 'z') AS vv "
        "FROM x JOIN y ON x.k = y.k WHERE abs(x.n) > 1) s ON t.k = s.kk "
        "WHEN MATCHED THEN UPDATE SET v = s.vv "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.kk, upper(s.vv))"
    )
    assert c.source_from.endswith(") s") and "JOIN y ON x.k = y.k" in c.source_from
    assert c.on == "t.k = s.kk"
    assert c.update_set == {"v": "s.vv"}
    assert c.insert_cols == ["k", "v"] and c.insert_exprs == ["s.kk", "upper(s.vv)"]
    c2 = ddl.parse("MERGE INTO tgt USING src s ON (tgt.k = s.k) WHEN MATCHED THEN DELETE")
    assert c2.on == "(tgt.k = s.k)" and c2.delete_matched


def test_update_and_delete_statements(astro):
    """UPDATE/DELETE sugar over the MERGE machinery (ours — the reference
    appends only): UPDATE lands via the upsert append, DELETE rewrites
    survivors atomically."""
    astro.sql(
        "CREATE TABLE ud (k INT, v STRING, n INT, PRIMARY KEY (k)) MAPPED BY (ud_ht)"
    )
    for k, v, n in [(1, "a", 10), (2, "b", 20), (3, "c", 30)]:
        astro.sql(f"INSERT INTO ud VALUES ({k}, '{v}', {n})")
    astro.sql("UPDATE ud SET v = upper(v), n = n + 1 WHERE k >= 2")
    rows = astro.sql("SELECT k, v, n FROM ud ORDER BY k").collect()
    assert [(r.k, r.v, r.n) for r in rows] == [(1, "a", 10), (2, "B", 21), (3, "C", 31)]
    # unfiltered UPDATE touches every row
    astro.sql("UPDATE ud SET n = 0")
    assert {r.n for r in astro.sql("SELECT n FROM ud").collect()} == {0}
    astro.sql("DELETE FROM ud WHERE k = 2")
    assert [r.k for r in astro.sql("SELECT k FROM ud ORDER BY k").collect()] == [1, 3]
    # NULL-predicate rows survive a delete (WHERE NULL is not a match)
    astro.sql("INSERT INTO ud VALUES (4, NULL, 5)")
    astro.sql("DELETE FROM ud WHERE v = 'zzz'")
    assert [r.k for r in astro.sql("SELECT k FROM ud ORDER BY k").collect()] == [1, 3, 4]
    astro.sql("DELETE FROM ud")
    assert astro.sql("SELECT count(*) AS n FROM ud").collect()[0].n == 0
    # guards
    import pytest as _pt

    with _pt.raises(ValueError, match="may not assign key"):
        astro.sql("UPDATE ud SET k = 9")
    with _pt.raises(ValueError, match="undeclared"):
        astro.sql("UPDATE ud SET nosuch = 1")


def test_write_grammar_review_regressions():
    """r6 self-review repros: lazy-regex boundary bugs in the write
    grammar must stay fixed (WHERE inside literals/subqueries, CASE WHEN
    in MERGE ON, silently-dropped unsupported WHEN variants)."""
    from spark_sql_on_hbase_spark import ddl

    # WHERE inside a string literal is NOT the clause boundary
    c = ddl.parse("UPDATE t SET note = 'delete where needed' WHERE k = 1")
    assert c.update_set == {"note": "'delete where needed'"} and c.where == "k = 1"
    # WHERE inside a subquery in the SET expression stays in the expr
    c = ddl.parse("UPDATE t SET v = (SELECT max(x) FROM u WHERE u.k = 1)")
    assert c.update_set == {"v": "(SELECT max(x) FROM u WHERE u.k = 1)"}
    assert c.where is None
    # alias-qualified SET column names resolve like MERGE's do
    c = ddl.parse("UPDATE t SET t.v = 1 WHERE t.k > 2")
    assert c.update_set == {"v": "1"} and c.where == "t.k > 2"
    # CASE WHEN inside the MERGE ON condition is not a clause boundary
    c = ddl.parse(
        "MERGE INTO tgt t USING src s "
        "ON t.k = (CASE WHEN s.a > 0 THEN s.k ELSE -1 END) "
        "WHEN MATCHED THEN DELETE"
    )
    assert c.on == "t.k = (CASE WHEN s.a > 0 THEN s.k ELSE -1 END)"
    assert c.delete_matched
    # unsupported WHEN variants raise instead of silently dropping work
    import pytest as _pt

    # conditional WHEN clauses are SUPPORTED since r7 (ANSI search
    # conditions) — the clause condition must parse, not raise
    c = ddl.parse(
        "MERGE INTO tgt t USING src s ON t.k = s.k "
        "WHEN MATCHED AND s.flag = 1 THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert c.delete_matched and c.delete_cond == "s.flag = 1" and c.insert_star
    with _pt.raises(ValueError, match="unsupported MERGE clause"):
        ddl.parse(
            "MERGE INTO tgt t USING src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
    # DELETE shapes we don't model fall through to Spark verbatim
    # (pre-r6 behavior — DSv2 sources may support them)
    c = ddl.parse("DELETE FROM t USING u WHERE t.k = u.k")
    assert isinstance(c, ddl.PassThrough)
    # --- second-review repros ---
    # struct-field / wrong-qualifier SET targets are NOT collapsed to a
    # bare column (silent wrong-column update); only the table's own
    # qualifier strips
    c = ddl.parse("UPDATE t SET address.city = 'SF' WHERE k = 1")
    assert c.update_set == {"address.city": "'SF'"}
    c = ddl.parse("UPDATE t SET zzz.v = 1")
    assert c.update_set == {"zzz.v": "1"}
    # verbatim fall-through keeps the original text (namespace survives)
    c = ddl.parse("UPDATE ns.t SET v = 1")
    assert c.namespace == "ns" and c.raw.startswith("UPDATE ns.t")
    # aliased DELETE parses (valid Spark syntax; previously pass-through)
    c = ddl.parse("DELETE FROM t AS a WHERE a.k = 1")
    assert c.alias == "a" and c.where == "a.k = 1"
    c = ddl.parse("DELETE FROM t a WHERE a.k = 1")
    assert c.alias == "a" and c.where == "a.k = 1"
    # backslash-escaped quote inside a literal is not a literal end
    c = ddl.parse(r"UPDATE t SET note = 'O\'Brien WHERE x' WHERE k = 1")
    assert c.update_set == {"note": r"'O\'Brien WHERE x'"} and c.where == "k = 1"
    # a column literally named `where` parses (backticks are quotes)
    c = ddl.parse("UPDATE t SET `where` = 1")
    assert c.update_set == {"where": "1"} and c.where is None
    # 'WHEN MATCHED' inside a string literal is not a clause boundary
    c = ddl.parse(
        "MERGE INTO tgt t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET note = 'use WHEN NOT MATCHED here', v = s.v"
    )
    assert c.update_set == {"note": "'use WHEN NOT MATCHED here'", "v": "s.v"}
    # backtick-quoted qualified MERGE SET target resolves like UPDATE's
    c = ddl.parse(
        "MERGE INTO tgt t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.`v` = 1"
    )
    assert c.update_set == {"v": "1"}


def test_generation_versioned_reads(astro):
    """Generation-versioned snapshot reads (reference doc §23
    timestamp-versioned queries, re-expressed over LSM generations — the
    HBase setTimeRange analog).  Each append is a generation; as_of_seq=N
    resolves the table from fragments with seq <= N only.  History ends
    at COMPACT (HBase major-compaction semantics)."""
    astro.sql(
        "CREATE TABLE tv (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (tv_ht)"
    )
    astro.sql("INSERT INTO tv VALUES (1, 'a')")      # gen 0 (first write)
    astro.sql("INSERT INTO tv VALUES (1, 'A')")      # gen 1: upsert k=1
    astro.sql("INSERT INTO tv VALUES (2, 'b')")      # gen 2: new key
    rel = astro.relation("tv")
    assert rel.current_seq() == 2

    def snap(n):
        return {(r.k, r.v) for r in astro.table("tv", as_of_seq=n).collect()}

    assert snap(0) == {(1, "a")}
    assert snap(1) == {(1, "A")}
    assert snap(2) == {(1, "A"), (2, "b")}
    assert snap(2) == {(r.k, r.v) for r in astro.table("tv").collect()}
    # DESCRIBE EXTENDED surfaces the generation range
    desc = {r.col_name: r.data_type for r in astro.sql("DESCRIBE EXTENDED tv").collect()}
    assert desc["max_generation"] == "2"
    # a too-old generation on a compacted table: COMPACT rewrites to gen 0
    astro.sql("COMPACT TABLE tv")
    rel = astro.relation("tv")
    assert rel.current_seq() == 0
    assert snap(0) == {(1, "A"), (2, "b")}  # history folded, like HBase


def test_version_as_of_sql(astro):
    """SQL-level generation time travel: `FROM t VERSION AS OF n` over an
    astro table resolves the generation-N snapshot (reference doc §23
    timestamp-versioned queries were SQL-level; Spark reserves the same
    syntax for DSv2 sources, which pass through untouched)."""
    astro.sql("CREATE TABLE va (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (va_ht)")
    astro.sql("INSERT INTO va VALUES (1, 'old')")
    astro.sql("INSERT INTO va VALUES (1, 'new')")
    assert astro.sql("SELECT v FROM va VERSION AS OF 0").collect()[0].v == "old"
    assert astro.sql("SELECT v FROM va VERSION AS OF 1").collect()[0].v == "new"
    # joins between a snapshot and the current state work (two FROMs)
    rows = astro.sql(
        "SELECT cur.v AS now, old.v AS was FROM va cur "
        "JOIN (SELECT * FROM va VERSION AS OF 0) old ON cur.k = old.k"
    ).collect()
    assert (rows[0].now, rows[0].was) == ("new", "old")
    # the pattern inside a string literal is not rewritten
    r = astro.sql("SELECT 'va VERSION AS OF 0' AS s").collect()[0]
    assert r.s == "va VERSION AS OF 0"


def test_register_all_fingerprint_cache(astro, tmp_path, monkeypatch):
    """r7: _register_all re-analyzes only tables whose physical/declared
    state changed — per-statement cost is an os.listdir per table, not a
    Spark plan analysis per table.  A sibling write over the same
    warehouse stays visible (the write path records the fresh
    fingerprint when it re-registers), and a same-named table in a
    DIFFERENT warehouse never satisfies this session's skip check."""
    import spark_sql_on_hbase_spark.relation as R
    from spark_sql_on_hbase_spark.session import AstroSession

    astro.sql("CREATE TABLE rc (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (rc_ht)")
    astro.sql("INSERT INTO rc VALUES (1, 'a')")
    astro.sql("SELECT * FROM rc").collect()

    calls = []
    orig = R.AstroRelation.register_view

    def spy(self, name=None):
        calls.append(self.meta.name)
        return orig(self, name)

    monkeypatch.setattr(R.AstroRelation, "register_view", spy)
    # unchanged state: repeated statements re-register nothing
    astro.sql("SELECT count(*) FROM rc").collect()
    astro.sql("SELECT count(*) FROM rc").collect()
    assert calls == []
    # a write through a SIBLING session over the same warehouse: its DML
    # path re-registers and refreshes the shared fingerprint, so the
    # next statement here sees fresh data WITHOUT a redundant re-analysis
    sibling = AstroSession(astro.spark, astro.catalog.root)
    sibling.sql("INSERT INTO rc VALUES (2, 'b')")
    calls.clear()
    rows = astro.sql("SELECT k FROM rc ORDER BY k").collect()
    assert [r.k for r in rows] == [1, 2]  # fresh data visible
    assert calls == []  # the sibling's own registration kept the cache hot

    # same view name, DIFFERENT warehouse: the cached skip must never
    # serve the other catalog's view — each session re-registers its own
    other = AstroSession(astro.spark, str(tmp_path / "other_wh"))
    other.sql("CREATE TABLE rc (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (rc_ht)")
    other.sql("INSERT INTO rc VALUES (99, 'z')")
    assert [r.k for r in other.sql("SELECT k FROM rc").collect()] == [99]
    assert [r.k for r in astro.sql("SELECT k FROM rc ORDER BY k").collect()] == [1, 2]
    assert [r.k for r in other.sql("SELECT k FROM rc").collect()] == [99]


def test_multirow_insert_values(spark, tmp_path):
    """INSERT INTO t VALUES (...), (...) — standard-SQL multi-row form
    (the reference grammar is single-row; ours is a superset).  All rows
    land in ONE appended generation, and quoted commas/parens inside
    literals do not split tuples."""
    from spark_sql_on_hbase_spark.session import AstroSession

    a = AstroSession(spark, str(tmp_path / "mr_wh"))
    a.sql(
        "CREATE TABLE mr (k INT, v STRING, PRIMARY KEY (k)) "
        "MAPPED BY (mr_ht, COLS=[v=f.v])"
    )
    res = a.sql("INSERT INTO mr VALUES (1, 'one'), (2, 'two, (2)'), (3, NULL)")
    assert res.collect()[0].result == "inserted 3 rows"  # not "1 row"
    got = sorted((r.k, r.v) for r in a.sql("SELECT * FROM mr").collect())
    assert got == [(1, "one"), (2, "two, (2)"), (3, None)]
    rel = a.relation("mr")
    assert len({r.seq for r in rel.meta.regions}) == 1  # one generation
    a.sql("INSERT INTO mr VALUES (4, 'x'),(5,'y')")
    assert a.sql("SELECT count(*) AS n FROM mr").collect()[0].n == 5
    res = a.sql("INSERT INTO mr VALUES (6, 'z')")
    assert res.collect()[0].result == "inserted 1 row"
