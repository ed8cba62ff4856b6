"""MERGE INTO: update/delete/insert vs a DuckDB oracle, duplicate-key
policies, skew salting, file-scoped rewrite, resume."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from feature_engineering_poc_spark.lakehouse import write_token_table
from feature_engineering_poc_spark.lakehouse.generator import token_dataframe
from feature_engineering_poc_spark.lakehouse.merge import (
    DuplicateSourceKeys,
    merge_into,
)
from feature_engineering_poc_spark.lakehouse.skew import hot_keys, salted_latest_by_key


@pytest.fixture()
def table(spark, tmp_path):
    return write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=4, max_tok=64)


def _source(spark, table):
    """~10% updates (new tokens), ~5% deletes, ~10% inserts (FIXTURES.md F1)."""
    tgt = table.scan(spark)
    updates = (
        tgt.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0)
        .select(
            "doc_id",
            F.array([F.lit(i) for i in range(4)]).cast("array<int>").alias("tokens"),
            F.lit(4).cast("int").alias("n_tok"),
            "source",
            F.lit("upsert").alias("_op"),
        )
    )
    deletes = (
        tgt.filter(F.pmod(F.xxhash64("doc_id"), F.lit(20)) == 1)
        .select("doc_id", "tokens", "n_tok", "source", F.lit("delete").alias("_op"))
    )
    inserts = token_dataframe(spark, 100, seed=99, max_tok=32, id_offset=10_000_000).withColumn(
        "_op", F.lit("upsert")
    )
    return updates.unionByName(deletes).unionByName(inserts)


def test_merge_update_delete_insert_vs_duckdb_oracle(spark, table):
    src = _source(spark, table)
    tgt_pd = table.scan(spark).toPandas()
    src_pd = src.toPandas()
    n_upd_expect = len(src_pd[(src_pd._op == "upsert")
                              & src_pd.doc_id.isin(tgt_pd.doc_id)])
    result = merge_into(spark, table, src)
    assert result["snapshot_id"] == 2
    assert result["rows_updated"] == n_upd_expect
    assert result["rows_inserted"] == 100

    got = table.scan(spark).toPandas()
    con = duckdb.connect()
    con.register("tgt", tgt_pd)
    con.register("src", src_pd)
    expect = con.sql(
        """
        SELECT COALESCE(s.doc_id, t.doc_id) doc_id,
               CASE WHEN s._op = 'upsert' THEN s.tokens ELSE t.tokens END tokens,
               CASE WHEN s._op = 'upsert' THEN s.n_tok ELSE t.n_tok END n_tok,
               COALESCE(t.source, s.source) source
        FROM tgt t FULL OUTER JOIN src s USING (doc_id)
        WHERE s._op IS NULL OR s._op <> 'delete'
        """
    ).df()
    assert len(got) == len(expect)
    g = got.sort_values("doc_id").reset_index(drop=True)
    e = expect.sort_values("doc_id").reset_index(drop=True)
    assert (g.doc_id == e.doc_id).all()
    assert (g.n_tok == e.n_tok).all()
    assert all(list(a) == list(b) for a, b in zip(g.tokens, e.tokens))


def test_merge_untouched_files_not_rewritten(spark, table):
    pre_files = set(table.data_files(spark))
    one_doc = table.scan(spark).orderBy("doc_id").limit(1).select("doc_id").collect()[0].doc_id
    src = spark.createDataFrame(
        [(one_doc, [1, 2], 2, "web")], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    result = merge_into(spark, table, src)
    post_files = set(table.data_files(spark))
    kept = pre_files & post_files
    # copy-on-write is file-scoped: only files containing the key rewritten
    assert result["touched_files"] <= result["candidate_files"]
    assert len(pre_files) - len(kept) == result["files_rewritten"]
    assert result["files_rewritten"] >= 1
    assert len(kept) >= len(pre_files) - 2  # at most the touched file(s) dropped


def test_merge_duplicate_keys_error_and_last_policy(spark, table):
    d = table.scan(spark).limit(1).collect()[0].doc_id
    dup_src = spark.createDataFrame(
        [(d, [1], 1, "web", "upsert", 1), (d, [2], 2, "web", "upsert", 2)],
        "doc_id string, tokens array<int>, n_tok int, source string, _op string, _seq long",
    )
    with pytest.raises(DuplicateSourceKeys):
        merge_into(spark, table, dup_src)
    result = merge_into(spark, table, dup_src, duplicate_policy="last")
    assert result["rows_updated"] == 1
    row = table.scan(spark).filter(F.col("doc_id") == d).collect()[0]
    assert list(row.tokens) == [2] and row.n_tok == 2  # highest _seq wins


def test_salted_latest_by_key_hot_key(spark):
    # a hot key duplicated 5000x + 100 unique keys
    hot = spark.range(5000).select(
        F.lit("hotdoc").alias("doc_id"), F.col("id").cast("long").alias("_seq"),
        F.array(F.col("id").cast("int")).alias("tokens"),
    )
    cold = spark.range(100).select(
        F.format_string("doc%03d", "id").alias("doc_id"), F.lit(0).cast("long").alias("_seq"),
        F.array(F.lit(1)).alias("tokens"),
    )
    df = hot.unionByName(cold)
    assert hot_keys(df, "doc_id", 1000).count() == 1
    out = salted_latest_by_key(df, "doc_id", "_seq", salt=8)
    assert out.count() == 101
    winner = out.filter("doc_id = 'hotdoc'").collect()[0]
    assert winner._seq == 4999  # max _seq survived two-phase agg


def test_merge_dedupe_salt_invariance(spark, tmp_path):
    """Salting only spreads the "last"-policy dedupe over reducers: the
    same merge, with a hot key repeated 200 times, at salt=1 and salt=16
    on two fresh tables must leave identical tables."""
    from feature_engineering_poc_spark.lakehouse.equivalence import scan_fingerprint

    fps = []
    for salt in (1, 16):
        t = write_token_table(
            spark, tmp_path / f"salt{salt}", n_rows=1000, files_per_source=4, max_tok=64
        )
        hot = t.scan(spark).orderBy("doc_id").limit(1).collect()[0]
        dups = spark.range(200).select(
            F.lit(hot.doc_id).alias("doc_id"),
            F.array(F.col("id").cast("int")).alias("tokens"),
            F.lit(1).cast("int").alias("n_tok"),
            F.lit(hot.source).alias("source"),
            F.lit("upsert").alias("_op"),
            F.col("id").alias("_seq"),
        )
        src = _source(spark, t).withColumn("_seq", F.lit(0).cast("long")).unionByName(dups)
        merge_into(spark, t, src, duplicate_policy="last", salt=salt)
        row = t.scan(spark).filter(F.col("doc_id") == hot.doc_id).collect()[0]
        assert list(row.tokens) == [199]  # highest _seq of the hot key wins
        fps.append(scan_fingerprint(t.scan(spark)))
    assert (fps[0].row_count, fps[0].xor_hash) == (fps[1].row_count, fps[1].xor_hash)


def test_merge_resume_from_checkpoint(spark, table):
    src = _source(spark, table).persist()
    with pytest.raises(RuntimeError, match="injected failure"):
        merge_into(spark, table, src, job_id="mresume", _fail_after_units=1)
    assert table.current_snapshot_id() == 1  # nothing committed
    result = merge_into(spark, table, src, job_id="mresume")
    assert result["snapshot_id"] == 2
    assert result["rows_inserted"] == 100
    assert result["units_resumed"] == 1
    src.unpersist()


def test_merge_empty_source_noop(spark, table):
    empty = spark.createDataFrame([], "doc_id string, tokens array<int>, n_tok int, source string")
    result = merge_into(spark, table, empty)
    assert result["snapshot_id"] is None


def test_broadcast_cap_heap_aware(spark, monkeypatch):
    from feature_engineering_poc_spark.lakehouse.merge import (
        _broadcast_cap,
        _parse_size,
    )

    assert _parse_size("48g") == 48 << 30
    assert _parse_size("512m") == 512 << 20
    assert _parse_size("1024") == 1024
    monkeypatch.setenv("FEPOC_MERGE_BROADCAST_CAP", "12345")
    assert _broadcast_cap(spark) == 12345
    monkeypatch.delenv("FEPOC_MERGE_BROADCAST_CAP")
    cap = _broadcast_cap(spark)
    heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
    mrs = _parse_size(spark.conf.get("spark.driver.maxResultSize"))
    # heap/16 concurrency-safe slice, floored at 64 MB, clamped under
    # the driver collection limit
    assert cap == min(max(64 << 20, heap // 16), int(mrs * 0.8))


def test_merge_per_unit_broadcast_and_shuffle_fallback(spark, table, monkeypatch):
    """Same merge under forced-shuffle (cap=0) and default (broadcast)
    caps must agree — the per-unit slice is plan-invariant — and the
    summary must record the cap and how many units broadcast."""
    src = _source(spark, table).persist()
    src_pd = src.toPandas().sort_values(["doc_id", "_op"]).reset_index(drop=True)

    monkeypatch.setenv("FEPOC_MERGE_BROADCAST_CAP", "0")  # force shuffle units
    r_shuffle = merge_into(spark, table, src)
    assert r_shuffle["broadcast_cap"] == 0
    assert r_shuffle["units_broadcast"] == 0
    shuffled = table.scan(spark).toPandas().sort_values("doc_id").reset_index(drop=True)

    monkeypatch.delenv("FEPOC_MERGE_BROADCAST_CAP")
    import shutil
    import tempfile

    d2 = tempfile.mkdtemp(prefix="fepoc_merge_bc_")
    try:
        t2 = write_token_table(
            spark, d2 + "/t", n_rows=1000, files_per_source=4, max_tok=64
        )
        r_bcast = merge_into(spark, t2, src)
        # every touched partition unit fits the heap-aware cap here
        assert r_bcast["units_broadcast"] >= 1
        assert r_bcast["broadcast_cap"] > 0
        bcast = t2.scan(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    finally:
        shutil.rmtree(d2, ignore_errors=True)
    src.unpersist()

    assert r_shuffle["rows_updated"] == r_bcast["rows_updated"]
    assert r_shuffle["rows_deleted"] == r_bcast["rows_deleted"]
    assert r_shuffle["rows_inserted"] == r_bcast["rows_inserted"]
    assert list(shuffled.doc_id) == list(bcast.doc_id)
    assert list(shuffled.n_tok) == list(bcast.n_tok)
    assert all(list(a) == list(b) for a, b in zip(shuffled.tokens, bcast.tokens))
    assert len(src_pd) > 0  # sanity: the merge actually did work


def test_merge_special_chars_in_table_root(spark, tmp_path):
    """input_file_name() returns a percent-encoded URI; the probe join
    must still match manifest paths for roots containing spaces, '%',
    '+', and non-ASCII — a silent mismatch would skip the rewrite AND
    re-insert matched keys as duplicates (ADVICE r5, merge.py probe)."""
    root = tmp_path / "odd dir %x+ü"
    t = write_token_table(spark, root / "t", n_rows=400, files_per_source=2, max_tok=32)
    pre = t.scan(spark).count()
    one = t.scan(spark).orderBy("doc_id").limit(1).collect()[0]
    src = spark.createDataFrame(
        [(one.doc_id, [9, 9], 2, one.source)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    r = merge_into(spark, t, src)
    # the key matched (update, not insert) and no duplicate appeared
    assert r["rows_updated"] == 1
    assert r["rows_inserted"] == 0
    assert t.scan(spark).count() == pre
    assert t.scan(spark).filter(F.col("doc_id") == one.doc_id).count() == 1
    row = t.scan(spark).filter(F.col("doc_id") == one.doc_id).collect()[0]
    assert list(row.tokens) == [9, 9] and row.n_tok == 2


def test_parse_size_two_letter_suffixes():
    from feature_engineering_poc_spark.lakehouse.merge import _parse_size

    assert _parse_size("2gb") == 2 << 30
    assert _parse_size("512mb") == 512 << 20
    assert _parse_size("8kb") == 8 << 10
    assert _parse_size("1g") == 1 << 30
    assert _parse_size("64") == 64


def test_merge_small_source_fast_path_equivalence(spark, table, monkeypatch):
    """The single-broadcast fast path (whole source under one cap) and
    the per-unit path must produce identical tables and summaries."""
    src = _source(spark, table).persist()

    # force the per-unit SLOW path by shrinking the cap below the source
    monkeypatch.setenv("FEPOC_MERGE_BROADCAST_CAP", "1")
    r_slow = merge_into(spark, table, src)
    assert r_slow["units_broadcast"] == 0  # every unit over the 1-byte cap
    slow_pd = table.scan(spark).toPandas().sort_values("doc_id").reset_index(drop=True)

    monkeypatch.delenv("FEPOC_MERGE_BROADCAST_CAP")
    import shutil
    import tempfile

    d2 = tempfile.mkdtemp(prefix="fepoc_merge_fast_")
    try:
        t2 = write_token_table(spark, d2 + "/t", n_rows=1000, files_per_source=4, max_tok=64)
        r_fast = merge_into(spark, t2, src)
        # fast path: every pending unit rides the one broadcast
        assert r_fast["units_broadcast"] >= 1
        fast_pd = t2.scan(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    finally:
        shutil.rmtree(d2, ignore_errors=True)
    src.unpersist()

    for k in ("rows_updated", "rows_deleted", "rows_inserted", "touched_files"):
        assert r_slow[k] == r_fast[k], k
    assert list(slow_pd.doc_id) == list(fast_pd.doc_id)
    assert list(slow_pd.n_tok) == list(fast_pd.n_tok)
    assert all(list(a) == list(b) for a, b in zip(slow_pd.tokens, fast_pd.tokens))
