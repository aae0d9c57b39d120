"""CDC changelog scan: inserts, MOR/DV/eq deletes, COW rewrites."""

import pyspark.sql.functions as F

from iceberg_rust_spark import Table, expr as E
from iceberg_rust_spark.sources.types import schema_from_spark
from iceberg_rust_spark.streaming.changes import changes_df


def _counts(df):
    return {(r["_change_type"], r["_change_ordinal"]): r["n"]
            for r in df.groupBy("_change_type", "_change_ordinal")
            .agg(F.count("*").alias("n")).collect()}


def test_changes_append_and_mor_delete(spark, warehouse):
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 4).alias("g"))
    t = Table.create(warehouse, "db.cdc1", schema_from_spark(df.schema))
    t = t.append(spark, df.where(F.col("id") < 60))
    t = t.append(spark, df.where(F.col("id") >= 60))
    t = t.delete_where(spark, E.col("g") == 1, mode="mor")

    ch = changes_df(spark, t)
    counts = _counts(ch)
    assert counts[("insert", 0)] == 60
    assert counts[("insert", 1)] == 40
    assert counts[("delete", 2)] == 25  # g==1 rows
    # the deleted rows are exactly the g==1 rows
    deleted = ch.where((F.col("_change_type") == "delete"))
    assert sorted(r["id"] for r in deleted.collect()) == \
        sorted(r["id"] for r in df.where(F.col("g") == 1).collect())


def test_changes_read_by_field_id_after_rename(spark, warehouse):
    """Files written before a column rename read that column by field id:
    inserts and MOR-deleted rows alike carry its values under the new
    name."""
    df = spark.range(0, 20).select(F.col("id"), (F.col("id") % 4).alias("g"))
    t = Table.create(warehouse, "db.cdc_rename", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 1, mode="mor")
    t = t.update_schema().rename_column("g", "g2").commit()

    ch = changes_df(spark, t)
    assert "g2" in ch.columns and "g" not in ch.columns
    rows = sorted((r["_change_type"], r["id"], r["g2"]) for r in ch.collect())
    assert rows == sorted([("insert", i, i % 4) for i in range(20)]
                          + [("delete", i, 1) for i in range(1, 20, 4)])


def test_changes_dv_and_eq_delete(spark, warehouse):
    df = spark.range(0, 50).select(F.col("id"), (F.col("id") % 5).alias("g"))
    t = Table.create(warehouse, "db.cdc2", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 2, mode="dv")
    t = t.delete_by_equality(
        spark, spark.createDataFrame([(4,)], "g long"), ["g"])

    ch = changes_df(spark, t)
    counts = _counts(ch)
    assert counts[("insert", 0)] == 50
    assert counts[("delete", 1)] == 10  # DV: g==2
    assert counts[("delete", 2)] == 10  # eq: g==4
    # incremental window: only the eq-delete snapshot
    snaps = sorted(t.metadata.snapshots, key=lambda s: s.sequence_number)
    ch2 = changes_df(spark, t, from_snapshot_id=snaps[1].snapshot_id)
    assert _counts(ch2) == {("delete", 0): 10}


def test_changes_cow_rewrite_emits_delete_and_insert(spark, warehouse):
    df = spark.range(0, 40).select(F.col("id"), (F.col("id") % 2).alias("g"))
    t = Table.create(warehouse, "db.cdc3", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 0, mode="cow")
    ch = changes_df(spark, t)
    counts = _counts(ch)
    assert counts[("insert", 0)] == 40
    # file-granularity: the rewritten file's rows emit delete + re-insert
    assert counts[("delete", 1)] == 40
    assert counts.get(("insert", 1), 0) == 20  # survivors re-inserted
    # net state from the changelog equals the table state
    last = ch.withColumn("_k", F.col("id"))
    net_deleted = ch.where(F.col("_change_type") == "delete") \
        .groupBy("id").count()
    net = 40 - 40 + 20  # inserts(0) - deletes(1) + inserts(1)
    assert t.to_df(spark).count() == net == 20


def test_changes_merge_emits_delete_and_insert(spark, warehouse):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                               "id long, name string")
    t = Table.create(warehouse, "db.chmerge", schema_from_spark(df.schema))
    t = t.append(spark, df)
    base = t.metadata.current_snapshot_id
    src = spark.createDataFrame([(5, "UPD5"), (99, "NEW99")],
                                "id long, name string")
    t = t.merge(spark, src, ["id"])

    ch = changes_df(spark, t, from_snapshot_id=base).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], set()).add((r["id"], r["name"]))
    # the merge snapshot: old row 5 deleted; rows 5(new) and 99 inserted.
    # (id 99 matched nothing, so the eq delete deletes no existing row)
    assert by_type["insert"] == {(5, "UPD5"), (99, "NEW99")}
    assert by_type["delete"] == {(5, "v5")}


def test_net_changes_collapses_to_net_effect(spark, warehouse):
    """net_changes: per-key net across the window — deletes+reinserts of
    identical values vanish, changed values emit delete+insert, pure
    inserts/deletes pass through once."""
    from iceberg_rust_spark.streaming.changes import net_changes

    df = spark.range(0, 40).select(F.col("id"), (F.col("id") % 4).alias("g"))
    t = Table.create(warehouse, "db.netc", schema_from_spark(df.schema))
    t = t.append(spark, df)                                     # ord 0: insert 40
    t = t.delete_where(spark, E.col("g") == 1, mode="cow")      # ord 1: COW
    # COW rewrites survivors too: file-granularity delete+reinsert of the
    # SAME rows for g!=1 — net_changes must cancel those
    ch = changes_df(spark, t)
    raw_deletes = ch.where(F.col("_change_type") == "delete").count()
    assert raw_deletes >= 10  # file-granularity: at least the g==1 rows

    net = net_changes(ch, ["id"])
    rows = {(r["id"], r["_change_type"]) for r in net.collect()}
    # every surviving row nets to a single insert; g==1 rows net to NOTHING
    # (inserted and deleted inside the window)
    assert {(i, "insert") for i in range(40) if i % 4 != 1} == rows

    # a window starting AFTER the initial insert nets g==1 rows to deletes
    first = sorted(t.metadata.snapshots, key=lambda s: s.sequence_number)[0]
    ch2 = changes_df(spark, t, from_snapshot_id=first.snapshot_id)
    net2 = net_changes(ch2, ["id"])
    rows2 = {(r["id"], r["_change_type"]) for r in net2.collect()}
    assert rows2 == {(i, "delete") for i in range(40) if i % 4 == 1}


def test_changes_reader_micro_batches(spark, warehouse, tmp_path):
    """ChangesReader: checkpointed CDC micro-batches — one changelog batch
    per unseen snapshot, resume skips consumed ones."""
    from iceberg_rust_spark.streaming.changes import ChangesReader

    df = spark.range(0, 20).select(F.col("id"), (F.col("id") % 2).alias("g"))
    t = Table.create(warehouse, "db.cdcstream", schema_from_spark(df.schema))
    t = t.append(spark, df)
    t = t.delete_where(spark, E.col("g") == 1, mode="mor")

    cp = str(tmp_path / "cdc_ckpt.json")
    r = ChangesReader(t, cp)
    batches = [(sid, {(row["_change_type"],): 1 for row in b.collect()},
                b.count()) for sid, b in r.micro_batches(spark)]
    assert len(batches) == 2
    assert batches[0][2] == 20          # initial insert batch
    assert batches[1][2] == 10          # MOR delete batch
    # resume: nothing new
    assert list(ChangesReader(t, cp).micro_batches(spark)) == []
    # a new snapshot yields exactly one new batch
    t = t.append(spark, df.where(F.col("id") < 3).select(
        F.col("id") + 100, F.col("g")).toDF("id", "g"))
    more = list(ChangesReader(t, cp).micro_batches(spark))
    assert len(more) == 1 and more[0][1].count() == 3


def test_mirror_table_replicates_history(spark, warehouse, tmp_path):
    """mirror_table: CDC feed -> apply_changes keeps a replica equal to the
    source across appends and deletes, incrementally."""
    from iceberg_rust_spark.streaming.changes import mirror_table

    df = spark.range(0, 60).select(F.col("id"), (F.col("id") % 6).alias("g"))
    src = Table.create(warehouse, "db.mir_src", schema_from_spark(df.schema))
    src = src.append(spark, df)
    src = src.delete_where(spark, E.col("g") == 2, mode="mor")
    dst = Table.create(warehouse, "db.mir_dst", schema_from_spark(df.schema))

    cp = str(tmp_path / "mirror_ckpt.json")
    applied = mirror_table(spark, src, dst, ["id"], cp)
    assert applied == 2

    def rows(t):
        return sorted(tuple(r) for r in
                      Table.load(warehouse, t).to_df(spark).collect())
    assert rows("db.mir_dst") == rows("db.mir_src")

    # incremental: more churn at the source, re-run ships only the delta
    src = Table.load(warehouse, "db.mir_src")
    src = src.append(spark, df.select((F.col("id") + 100).alias("id"),
                                      F.col("g")).where(F.col("id") < 110))
    src = src.delete_where(spark, E.col("g") == 3, mode="cow")
    applied = mirror_table(spark, src, Table.load(warehouse, "db.mir_dst"),
                           ["id"], cp)
    assert applied == 2
    assert rows("db.mir_dst") == rows("db.mir_src")
    # idempotent: nothing new
    assert mirror_table(spark, src, Table.load(warehouse, "db.mir_dst"),
                        ["id"], cp) == 0


def test_changes_skip_wap_branch_snapshots(spark, warehouse):
    """Side-branch (WAP) snapshots never surface in the changelog: the scan
    walks main's ancestry, not every snapshot in metadata."""
    df = spark.range(0, 10).select(F.col("id"), (F.col("id") % 2).alias("g"))
    t = Table.create(warehouse, "db.cdcwap", schema_from_spark(df.schema))
    t = t.append(spark, df)                                  # main, 10 rows
    staged = df.select(F.col("id") + 500, F.col("g")).toDF("id", "g")
    t = t.append(spark, staged, branch="audit")              # WAP: staged only
    t = t.append(spark, df.select(F.col("id") + 100, F.col("g"))
                 .toDF("id", "g"))                           # main, 10 rows

    ch = changes_df(spark, t)
    counts = _counts(ch)
    assert counts == {("insert", 0): 10, ("insert", 1): 10}
    assert ch.where(F.col("id") >= 500).count() == 0  # staged rows absent

    from iceberg_rust_spark.streaming.changes import ChangesReader
    sids = [sid for sid, _ in
            ChangesReader(t, "memory://wapckpt.json").micro_batches(spark)]
    branch_head = t.metadata.refs["audit"].snapshot_id
    assert branch_head not in sids and len(sids) == 2


def test_changes_survive_expire_snapshots(spark, warehouse, tmp_path):
    """expire_snapshots removing a parent or the checkpointed snapshot must
    not crash changes_df or force a full-history CDC replay."""
    from iceberg_rust_spark.sources.metadata import now_ms
    from iceberg_rust_spark.streaming.changes import ChangesReader

    df = spark.range(0, 12).select(F.col("id"), (F.col("id") % 3).alias("g"))
    t = Table.create(warehouse, "db.cdcexp", schema_from_spark(df.schema))
    t = t.append(spark, df.where(F.col("g") == 0))   # snap A: 4 rows
    t = t.append(spark, df.where(F.col("g") == 1))   # snap B: 4 rows

    cp = str(tmp_path / "exp_ckpt.json")
    consumed = [(sid, b.count()) for sid, b in
                ChangesReader(t, cp).micro_batches(spark)]
    assert [n for _, n in consumed] == [4, 4]

    t = t.append(spark, df.where(F.col("g") == 2))   # snap C: 4 rows
    # expire A and B: only the head C is retained; the checkpointed id (B)
    # and C's parent (B) no longer resolve
    t = t.expire_snapshots(older_than_ms=now_ms() + 10**9, retain_last=1)
    assert len(t.metadata.snapshots) == 1

    # changes_df with an expired 'from' behaves as from=None over retained
    ch = changes_df(spark, t)
    assert ch.count() == 4

    more = [(sid, b.count()) for sid, b in
            ChangesReader(t, cp).micro_batches(spark)]
    assert [n for _, n in more] == [4]      # only C — no replay of A/B

    # an expired 'to' is an explicit error, not a silent empty result
    import pytest as _pytest
    expired_id = consumed[0][0]
    with _pytest.raises(ValueError, match="does not resolve"):
        changes_df(spark, t, to_snapshot_id=expired_id).count()


def test_mirror_table_random_histories(spark, warehouse, tmp_path):
    """Property-style: random append/MOR-delete/merge histories replicate
    exactly through the CDC feed (seeded; few examples — Spark ops are
    slow)."""
    import random

    from iceberg_rust_spark.streaming.changes import mirror_table

    for seed in (11, 23):
        rng = random.Random(seed)
        name = f"db.mirrnd{seed}"
        df0 = spark.createDataFrame(
            [(i, rng.randrange(100)) for i in range(40)], "id long, v long")
        src = Table.create(warehouse, name + "s",
                           schema_from_spark(df0.schema))
        src = src.append(spark, df0)
        for _ in range(3):
            op = rng.choice(["append", "delete", "merge"])
            if op == "append":
                base = rng.randrange(1000, 9000)
                src = src.append(spark, spark.createDataFrame(
                    [(base + i, rng.randrange(100)) for i in range(10)],
                    "id long, v long"))
            elif op == "delete":
                cut = rng.randrange(5, 35)
                src = src.delete_where(spark, E.col("id") <= cut, mode="mor")
            else:
                rows = [(rng.randrange(40), 777), (9999, 1)]
                src = src.merge(spark, spark.createDataFrame(
                    rows, "id long, v long"), ["id"])
        dst = Table.create(warehouse, name + "d",
                           schema_from_spark(df0.schema))
        mirror_table(spark, src, dst, ["id"],
                     str(tmp_path / f"ck{seed}.json"))
        dst = Table.load(warehouse, name + "d")
        s_rows = {(r["id"], r["v"]) for r in src.to_df(spark).collect()}
        d_rows = {(r["id"], r["v"]) for r in dst.to_df(spark).collect()}
        assert s_rows == d_rows


def test_changes_deep_history_merged_scans_exact(spark, warehouse):
    """Force the merged O(1)-scan path (> _MERGE_SCAN_GROUPS groups: ten
    appends + three MOR-delete ordinals) and verify the changelog row-for-
    row against independently computed expectations — the merged broadcast
    stamp maps, ordinal-tagged pair joins, and validity restriction must
    reproduce the per-ordinal semantics exactly."""
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 10).alias("g"))
    t = Table.create(warehouse, "db.deep", schema_from_spark(df.schema))
    for lo in range(0, 100, 10):
        t = t.append(spark, df.where((F.col("id") >= lo)
                                     & (F.col("id") < lo + 10)))
    t = t.delete_where(spark, E.col("g") == 3, mode="mor")    # ordinal 10
    t = t.delete_where(spark, E.col("id") < 5, mode="mor")    # ordinal 11
    t = t.delete_where(spark, E.col("g") == 7, mode="dv")     # ordinal 12

    ch = changes_df(spark, t)
    counts = _counts(ch)
    for o in range(10):
        assert counts[("insert", o)] == 10
    assert counts[("delete", 10)] == 10          # g==3
    assert counts[("delete", 11)] == 4           # id<5 minus already-gone 3
    assert counts[("delete", 12)] == 10          # g==7 via DV
    # exact ids per delete ordinal
    dels = {(r["_change_ordinal"], r["id"]) for r in
            ch.where(F.col("_change_type") == "delete").collect()}
    assert {i for o, i in dels if o == 10} == {i for i in range(100)
                                               if i % 10 == 3}
    assert {i for o, i in dels if o == 11} == {0, 1, 2, 4}
    assert {i for o, i in dels if o == 12} == {i for i in range(100)
                                               if i % 10 == 7}
    # inserts carry the right ordinals too
    ins = {(r["_change_ordinal"], r["id"]) for r in
           ch.where(F.col("_change_type") == "insert").collect()}
    assert all(o == i // 10 for o, i in ins)
    assert len(ins) == 100


def test_net_changes_matches_bruteforce_on_random_changelogs(spark):
    """Property check of the min_by/max_by aggregate form: for seeded random
    synthetic changelogs (keys reappearing across ordinals, same-ordinal
    delete+insert pairs, value churn, multi-column keys), net_changes equals
    a brute-force Python reference that sorts each key's history and applies
    the documented first/last rule."""
    import random

    from iceberg_rust_spark.streaming.changes import net_changes

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        rows = []
        for key in range(30):
            # a key's history: per touched ordinal, delete and/or insert
            for o in sorted(rng.sample(range(6), rng.randint(1, 4))):
                types = rng.choice([["insert"], ["delete"],
                                    ["delete", "insert"]])
                for ct in types:
                    rows.append((key % 5, key, rng.randint(0, 2), ct, o,
                                 1000 + o))
        df = spark.createDataFrame(
            rows, "part int, k long, v int, _change_type string, "
                  "_change_ordinal int, _commit_snapshot_id long")
        got = {(r["part"], r["k"], r["v"], r["_change_type"])
               for r in net_changes(df, ["part", "k"]).collect()}

        # brute force: first change per key (ordinal asc, delete-first),
        # last change (ordinal desc, insert-first); emit per the rule
        hist = {}
        for part, k, v, ct, o, _s in rows:
            hist.setdefault((part, k), []).append((o, ct, v))
        want = set()
        for (part, k), h in hist.items():
            first = min(h, key=lambda r: (r[0], r[1]))
            last = max(h, key=lambda r: (r[0], r[1]))
            has_d = first[1] == "delete"
            has_i = last[1] == "insert"
            changed = (not has_d) or (not has_i) or first[2] != last[2]
            if has_d and changed:
                want.add((part, k, first[2], "delete"))
            if has_i and changed:
                want.add((part, k, last[2], "insert"))
        assert got == want, f"seed {seed}: {got ^ want}"


def test_merged_pos_deletes_mixed_spelling_dedups_to_one_row(
        spark, tmp_path):
    """ADVICE r9 #3 regression: the merged pos-delete path normalizes pair
    spellings BEFORE the (file, pos, ordinal) dedup. The same position
    arriving under `file:/...` (DV-manifest URI spelling) AND `/...`
    (writer-normalized spelling) must emit exactly ONE delete row — with
    spelling-sensitive dedup the inner target join doubles it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_spark.streaming.changes import _merged_pos_deletes
    from iceberg_rust_spark.sources.manifest import DataFile

    data_path = str(tmp_path / "data0.parquet")
    pq.write_table(pa.table({"id": pa.array(range(10), type=pa.int64())}),
                   data_path)
    del_a = str(tmp_path / "del_a.parquet")     # file:/ URI spelling
    pq.write_table(pa.table({
        "file_path": ["file:" + data_path] * 2,
        "pos": pa.array([2, 3], type=pa.int64())}), del_a)
    del_b = str(tmp_path / "del_b.parquet")     # raw / spelling
    pq.write_table(pa.table({
        "file_path": [data_path] * 2,
        "pos": pa.array([3, 5], type=pa.int64())}), del_b)

    def read_files(paths, with_meta=False):
        df = spark.read.schema("id long").parquet(*paths)
        if with_meta:
            df = df.withColumn("_cf", F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/*", "/")) \
                .withColumn("_cp", F.col("_metadata.row_index"))
        return df

    jobs = [{"ordinal": 7, "snap_id": 99,
             "pos_like": [
                 DataFile(del_a, file_size_in_bytes=200, content=1),
                 DataFile(del_b, file_size_in_bytes=200, content=1)],
             "targets": [data_path]}]
    out = _merged_pos_deletes(spark, jobs, read_files, ["id"]).collect()
    got = sorted((r["id"], r["_change_type"], r["_change_ordinal"],
                  r["_commit_snapshot_id"]) for r in out)
    # pos 3 appears under BOTH spellings -> exactly one row out
    assert got == [(2, "delete", 7, 99), (3, "delete", 7, 99),
                   (5, "delete", 7, 99)]


def test_changes_column_name_with_backtick(spark, warehouse, tmp_path):
    """A column whose name holds a backtick reads through changes_df: the
    stamped projection doubles the embedded backtick when it quotes the
    name. The file is imported with add_files, which writes nothing
    through Spark SQL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_spark.sources.types import (LONG, NestedField,
                                                  Schema)

    path = str(tmp_path / "tick.parquet")
    pq.write_table(pa.table({"id": pa.array(range(6), pa.int64()),
                             "a`b": pa.array([i % 3 for i in range(6)],
                                             pa.int64())}), path)
    t = Table.create(warehouse, "db.cdc_tick", Schema(
        [NestedField(1, "id", LONG), NestedField(2, "a`b", LONG)], 0))
    t = t.add_files(spark, [path])
    ch = changes_df(spark, t)
    assert "a`b" in ch.columns
    assert sorted((r["id"], r["a`b"], r["_change_type"])
                  for r in ch.collect()) == \
        [(i, i % 3, "insert") for i in range(6)]
