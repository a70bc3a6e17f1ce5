"""r11: DESCRIBE HISTORY — the generation log (Delta analog): commit
time, recording operation, file counts, snapshot readability.

The operation label is written inside the commit that creates or folds
the generation: the statement name when the session runs the write
(``AstroRelation(..., op="DELETE")``), the mechanism for direct relation
writes (APPEND, WRITE, COMPACT, ...).  No later commit relabels it; the
race case lives in test_concurrent_catalog_r12.py.
"""

import io
import time

import pytest

# these tests assert PROMPT physical reclaim; r13 reader-lease
# deferral is exercised in test_autocompact_leases.py
pytestmark = pytest.mark.usefixtures("no_reader_leases")

from spark_sql_on_hbase_spark.session import AstroSession


@pytest.fixture()
def astro(spark, tmp_path):
    return AstroSession(spark, str(tmp_path / "warehouse"))


def _hist(astro, name):
    return [
        (r.generation, r.operation, r.live_files, r.retired_files, r.snapshot)
        for r in astro.sql(f"DESCRIBE HISTORY {name}").collect()
    ]


def test_history_records_statement_ops(astro, tmp_path):
    csv = tmp_path / "h1.csv"
    csv.write_text("".join(f"{k},v{k}\n" for k in range(1, 41)))
    astro.sql(
        "CREATE TABLE h1 (k INT, v STRING, PRIMARY KEY (k)) "
        "MAPPED BY (h1_ht) OPTIONS (regions=4, retain_history=true)"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE h1")
    astro.sql("INSERT INTO h1 VALUES (100, 'x')")
    astro.sql("UPDATE h1 SET v = NULL WHERE k = 5 AND v = 'v5'")
    astro.sql("DELETE FROM h1 WHERE k BETWEEN 20 AND 25")
    astro.sql("RESTORE TABLE h1 TO VERSION AS OF 0")
    h = _hist(astro, "h1")
    # newest first; every generation readable under retention
    assert [g for g, *_ in h] == [4, 3, 2, 1, 0]
    ops = {g: op for g, op, *_ in h}
    assert ops[0] == "LOAD"
    assert ops[1] == "INSERT"
    assert ops[2] == "UPDATE"
    assert ops[3] == "DELETE"
    assert ops[4] == "RESTORE"
    assert all(st == "readable" for *_, st in h)
    # commit times monotone non-decreasing oldest -> newest
    times = [r.committed_at for r in astro.sql("DESCRIBE HISTORY h1").collect()]
    assert times == sorted(times, reverse=True)
    # the restore retired the pre-restore live set: some retired files
    assert sum(rf for *_, rf, _st in [(g, op, lf, rf, st) for g, op, lf, rf, st in h]) > 0


def test_history_fold_and_floor(astro, tmp_path):
    csv = tmp_path / "h2.csv"
    csv.write_text("".join(f"{k},v{k}\n" for k in range(1, 31)))
    astro.sql(
        "CREATE TABLE h2 (k INT, v STRING, PRIMARY KEY (k)) "
        "MAPPED BY (h2_ht) OPTIONS (regions=2, retain_history=true)"
    )
    astro.sql(f"LOAD DATA INPATH '{csv}' INTO TABLE h2")
    astro.sql("DELETE FROM h2 WHERE k <= 5")
    astro.sql("VACUUM TABLE h2")  # floor rises past the retired snapshot
    h = _hist(astro, "h2")
    status = {g: st for g, _op, _lf, _rf, st in h}
    assert status[1] == "readable"
    if 0 in status:  # gen-0 stamp may survive the vacuum as below-floor
        assert status[0] == "below-floor"
    astro.sql("COMPACT TABLE h2")  # fold: history collapses to gen 0
    h2 = _hist(astro, "h2")
    assert [g for g, *_ in h2] == [0]
    assert h2[0][1] == "COMPACT"


def test_history_overwrite_and_mechanism_default(astro, tmp_path, spark):
    astro.sql(
        "CREATE TABLE h3 (k INT, v STRING, PRIMARY KEY (k)) MAPPED BY (h3_ht)"
    )
    astro.sql("INSERT INTO h3 VALUES (1, 'a')")
    astro.sql("INSERT OVERWRITE h3 SELECT 2, 'b'")
    h = _hist(astro, "h3")
    assert h[0][0] == 0 and h[0][1] == "INSERT OVERWRITE"
    # a direct relation append (no SQL session) records the MECHANISM
    rel = astro.relation("h3")
    rel.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert _hist(astro, "h3")[0][1] == "APPEND"


def test_history_help(astro):
    from spark_sql_on_hbase_spark.cli import repl

    out = io.StringIO()
    repl(astro, out=out, inp=io.StringIO("HELP DESCRIBE;\nexit\n"))
    assert "DESCRIBE HISTORY table_name" in out.getvalue()
