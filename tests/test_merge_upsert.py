"""merge_upsert (sources/writers.py) — the keyed MERGE emulation.

Pins the four claims the operator makes:

1. MERGE semantics: matched keys updated, new keys inserted, unmatched
   target rows untouched — and re-running the same merge is a no-op
   (idempotent upsert).
2. Partition-scoped rewrite: partitions with no matched key and no source
   row keep their EXACT parquet files (names + mtimes) — the 100 TB claim
   that merge cost scales with the touched slice, not the table.
3. Partition migration: a key whose partition value changes leaves no
   stale copy behind, including when that empties its old partition.
4. Source discipline: duplicate source keys error (Delta MERGE parity)
   unless dedup_order_by requests latest-wins; null partition values error.
"""

from __future__ import annotations

import os

import pytest

from yelp_business_data_pipeline_spark.sources.writers import merge_upsert


def _files(path: str) -> dict[str, float]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
    return out


def _rows(spark, path):
    return sorted(
        (r.id, r.v, r.p) for r in spark.read.parquet(path).select("id", "v", "p").collect()
    )


def _seed(spark, path):
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 2), (4, "d", 3)], ["id", "v", "p"]
    )
    merge_upsert(df, path, keys=["id"], partition_by=["p"])
    return df


def test_merge_updates_inserts_and_leaves_rest(spark, tmp_path):
    out = str(tmp_path / "t")
    _seed(spark, out)
    stats = merge_upsert(
        spark.createDataFrame([(2, "B", 1), (9, "i", 2)], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    assert _rows(spark, out) == [
        (1, "a", 1),
        (2, "B", 1),
        (3, "c", 2),
        (4, "d", 3),
        (9, "i", 2),
    ]
    assert stats == {"created": False, "affected_partitions": 2, "emptied_partitions": 0}


def test_merge_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "t")
    _seed(spark, out)
    batch = spark.createDataFrame([(2, "B", 1), (9, "i", 2)], ["id", "v", "p"])
    merge_upsert(batch, out, keys=["id"], partition_by=["p"])
    first = _rows(spark, out)
    merge_upsert(batch, out, keys=["id"], partition_by=["p"])
    assert _rows(spark, out) == first


def test_untouched_partitions_keep_their_files(spark, tmp_path):
    out = str(tmp_path / "t")
    _seed(spark, out)
    before = _files(out)
    p3_before = {p: m for p, m in before.items() if f"{os.sep}p=3{os.sep}" in p}
    assert p3_before, "seed should have written partition p=3"
    merge_upsert(
        spark.createDataFrame([(2, "B", 1)], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    after = _files(out)
    # p=3 (and p=2): same file paths, same mtimes — never rewritten
    for part in ("p=3", "p=2"):
        sel_b = {p: m for p, m in before.items() if f"{os.sep}{part}{os.sep}" in p}
        sel_a = {p: m for p, m in after.items() if f"{os.sep}{part}{os.sep}" in p}
        assert sel_b == sel_a, f"{part} was rewritten by a merge that never touched it"
    # p=1 WAS rewritten
    p1_b = {p for p in before if f"{os.sep}p=1{os.sep}" in p}
    p1_a = {p for p in after if f"{os.sep}p=1{os.sep}" in p}
    assert p1_b != p1_a or any(before[p] != after[p] for p in p1_b & p1_a)


def test_partition_migration_leaves_no_stale_copy(spark, tmp_path):
    out = str(tmp_path / "t")
    _seed(spark, out)
    # key 3 moves p=2 -> p=1; p=2 still holds nothing else? (seed p=2 = {3})
    stats = merge_upsert(
        spark.createDataFrame([(3, "C", 1)], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    got = _rows(spark, out)
    assert got == [(1, "a", 1), (2, "b", 1), (3, "C", 1), (4, "d", 3)]
    # p=2 was emptied: its directory must be gone, not left with stale files
    assert stats["emptied_partitions"] == 1
    assert not os.path.exists(os.path.join(out, "p=2"))


def test_partition_migration_partial_partition_survives(spark, tmp_path):
    out = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 2)], ["id", "v", "p"]
    ).write.partitionBy("p").parquet(out)
    merge_upsert(
        spark.createDataFrame([(2, "B", 1)], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    assert _rows(spark, out) == [(1, "a", 1), (2, "B", 1), (3, "c", 2)]


def test_duplicate_source_keys_error_and_latest_wins(spark, tmp_path):
    out = str(tmp_path / "t")
    _seed(spark, out)
    dup = spark.createDataFrame(
        [(2, "old", 1, 10), (2, "new", 1, 20)], ["id", "v", "p", "seq"]
    )
    with pytest.raises(ValueError, match="multiple rows"):
        merge_upsert(dup.drop("seq"), out, keys=["id"], partition_by=["p"])
    merge_upsert(
        dup,
        str(tmp_path / "t2"),
        keys=["id"],
        partition_by=["p"],
        dedup_order_by=["seq"],
    )
    got = spark.read.parquet(str(tmp_path / "t2")).collect()
    assert [(r.id, r.v) for r in got] == [(2, "new")]


def test_null_partition_value_errors(spark, tmp_path):
    out = str(tmp_path / "t")
    _seed(spark, out)
    bad = spark.createDataFrame([(5, "e", None)], "id int, v string, p int")
    with pytest.raises(ValueError, match="null partition"):
        merge_upsert(bad, out, keys=["id"], partition_by=["p"])


def test_creates_table_when_absent(spark, tmp_path):
    out = str(tmp_path / "t")
    stats = merge_upsert(
        spark.createDataFrame([(1, "a", 1)], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    assert stats["created"] is True
    assert _rows(spark, out) == [(1, "a", 1)]


def test_unpartitioned_merge_full_semantics(spark, tmp_path):
    out = str(tmp_path / "t")
    merge_upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), out, keys=["id"])
    merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), out, keys=["id"])
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]
    # idempotent + no leftover staging/backup dirs
    merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), out, keys=["id"])
    assert sorted((r.id, r.v) for r in spark.read.parquet(out).collect()) == got
    assert not os.path.exists(out + "__merging")
    assert not os.path.exists(out + "__premerge")


def test_affected_partition_predicate_prunes_scan(spark, tmp_path):
    """The merge's own reads, counted from Spark's ``number of files read``
    metrics: the matched-key scan reads every file once and the rewrite
    slice only the affected partitions' files — at 5 and at 40 affected
    partitions alike (the read-side half of the touched-slice-only claim;
    the mtime test above is the write-side half)."""
    from tests.files_read import files_read
    from yelp_business_data_pipeline_spark.sources.writers import write_overwrite

    out = str(tmp_path / "t")
    n = 300
    write_overwrite(
        spark.range(n).selectExpr("id", "concat('v', id) AS v", "id AS p"), out, partition_by=["p"]
    )
    for n_aff in (5, 40):
        assert len(_files(out)) == n  # one file per partition
        batch = spark.range(n_aff).selectExpr(
            "id * 7 AS id", f"concat('V{n_aff}_', id) AS v", "id * 7 AS p"
        )
        stats, read = files_read(
            spark, lambda: merge_upsert(batch, out, keys=["id"], partition_by=["p"])
        )
        assert stats["affected_partitions"] == n_aff
        assert read == n + n_aff, (n_aff, read)
    got = {r.id: r.v for r in spark.read.parquet(out).collect()}
    assert len(got) == n
    assert got[7] == "V40_1" and got[273] == "V40_39" and got[1] == "v1"


def test_wide_merge_thousand_partitions(spark, tmp_path):
    """A CDC batch touching ~1,000 partitions must not blow up Catalyst
    analysis: the rewrite-set slice takes its partition values from one
    subquery, so the plan is the same size at any affected-set size (a
    literal OR-of-ANDs predicate would be thousands deep here). Updates
    land, untouched partitions keep their exact files."""
    out = str(tmp_path / "t")
    n = 1200
    seed = spark.range(n).selectExpr("id", "concat('v', id) AS v", "id AS p")
    merge_upsert(seed, out, keys=["id"], partition_by=["p"])
    before = _files(out)

    # update 1,000 keys in place + insert 10 new partitions
    batch = (
        spark.range(1000)
        .selectExpr("id", "concat('V', id) AS v", "id AS p")
        .unionByName(
            spark.range(n, n + 10).selectExpr("id", "concat('new', id) AS v", "id AS p")
        )
    )
    stats = merge_upsert(batch, out, keys=["id"], partition_by=["p"])
    assert stats["affected_partitions"] == 1010
    got = {r.id: (r.v, r.p) for r in spark.read.parquet(out).select("id", "v", "p").collect()}
    assert len(got) == n + 10
    assert got[0] == ("V0", 0) and got[999] == ("V999", 999)
    assert got[1000] == ("v1000", 1000) and got[n] == (f"new{n}", n)
    # the 200 untouched partitions (1000..1199) kept their exact files
    def part_of(path: str) -> int:
        return int(path.split("/p=")[1].split("/")[0])

    untouched = {p: m for p, m in before.items() if 1000 <= part_of(p) < n}
    after = _files(out)
    assert len(untouched) >= 200
    for p, m in untouched.items():
        assert after.get(p) == m, p


def test_partition_value_needing_path_escape(spark, tmp_path):
    """Partition values with characters Hive percent-escapes in directory
    names (':', '/', '=') — the emptied-partition cleanup must delete the
    ESCAPED path, or re-homed keys resurface as duplicates on re-read."""
    out = str(tmp_path / "t")
    merge_upsert(
        spark.createDataFrame([(1, "a", "x:1"), (2, "b", "plain")], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    assert "p=x%3A1" in set(os.listdir(out))
    # re-home key 1 out of the escaped partition -> it empties
    stats = merge_upsert(
        spark.createDataFrame([(1, "A", "moved")], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    assert stats["emptied_partitions"] == 1
    assert "p=x%3A1" not in set(os.listdir(out))
    got = sorted((r.id, r.v, r.p) for r in spark.read.parquet(out).collect())
    assert got == [(1, "A", "moved"), (2, "b", "plain")]


def test_numeric_looking_string_partition_value(spark, tmp_path):
    """A string partition value '01' must NOT be re-read as int 1 by
    partition-type inference: that would break key equality against the
    source and re-write the partition as p=1 (ADVICE r3). The merge reads
    the target with inference disabled and casts to the source schema."""
    out = str(tmp_path / "t")
    merge_upsert(
        spark.createDataFrame([("k1", "a", "01"), ("k2", "b", "02")], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    merge_upsert(
        spark.createDataFrame([("k1", "A", "01")], ["id", "v", "p"]),
        out,
        keys=["id"],
        partition_by=["p"],
    )
    assert set(os.listdir(out)) >= {"p=01", "p=02"}
    assert "p=1" not in set(os.listdir(out))
    t = spark.read.parquet(out)
    got = sorted((r.id, r.v, str(r.p)) for r in t.collect())
    assert got == [("k1", "A", "01"), ("k2", "b", "02")] or got == [
        ("k1", "A", "1"),
        ("k2", "b", "2"),
    ]
    # the canonical check: exactly 2 rows, k1 updated once (no dup)
    assert t.count() == 2


def test_merge_safe_under_static_overwrite_session(spark, tmp_path):
    """merge_upsert must survive a session left at Spark's DEFAULT
    partitionOverwriteMode=static (ADVICE r3): the writer sets dynamic
    per-write, so unaffected partitions are never deleted."""
    out = str(tmp_path / "t")
    _seed(spark, out)
    before = _files(out)
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        merge_upsert(
            spark.createDataFrame([(2, "B", 1)], ["id", "v", "p"]),
            out,
            keys=["id"],
            partition_by=["p"],
        )
    finally:
        spark.conf.set(key, old)
    # partitions 2 and 3 (no matched key, no source row) kept their files
    untouched = {p: m for p, m in before.items() if "/p=2/" in p or "/p=3/" in p}
    after = _files(out)
    assert untouched and all(after.get(p) == m for p, m in untouched.items())
    assert _rows(spark, out) == [(1, "a", 1), (2, "B", 1), (3, "c", 2), (4, "d", 3)]


def test_null_key_component_merges_once(spark, tmp_path):
    # null-safe key equality: a NULL-keyed row updates, not duplicates
    out = str(tmp_path / "t")
    merge_upsert(
        spark.createDataFrame([(1, None, "a"), (2, 20, "b")], "id int, k int, v string"),
        out,
        keys=["id", "k"],
    )
    merge_upsert(
        spark.createDataFrame([(1, None, "A")], "id int, k int, v string"), out, keys=["id", "k"]
    )
    got = sorted((r.id, r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, None, "A"), (2, 20, "b")]


def test_merge_model_based_random_batches(spark, tmp_path):
    """Model-based check: 8 deterministic pseudo-random upsert batches
    applied to the parquet table AND to a python dict model; table state
    must equal the model after every merge — keys update/insert/migrate
    partitions in arbitrary interleavings the unit tests don't enumerate."""
    import hashlib

    out = str(tmp_path / "t")

    def h(*parts) -> int:
        return int.from_bytes(
            hashlib.md5("|".join(map(str, parts)).encode()).digest()[:4], "big"
        )

    model: dict[int, tuple[str, int]] = {}
    for step in range(8):
        batch, seen = [], set()
        for j in range(h("n", step) % 6 + 2):  # 2-7 rows
            key = h("k", step, j) % 12  # small key space -> collisions
            if key in seen:
                continue
            seen.add(key)
            v = f"s{step}j{j}"
            p = h("p", step, j) % 3  # 3 partitions -> migrations
            batch.append((key, v, p))
            model[key] = (v, p)
        merge_upsert(
            spark.createDataFrame(batch, "id long, v string, p long"),
            out,
            keys=["id"],
            partition_by=["p"],
        )
        got = {
            r.id: (r.v, r.p)
            for r in spark.read.parquet(out).select("id", "v", "p").collect()
        }
        assert got == model, f"divergence at step {step}"
    # every partition directory on disk is one the model still uses
    live_parts = {f"p={p}" for (_v, p) in model.values()}
    disk_parts = {d for d in os.listdir(out) if d.startswith("p=")}
    assert disk_parts == live_parts


def test_empty_source_batch_is_a_noop(spark, tmp_path):
    """Empty micro-batches (routine on streaming restarts) must not touch
    the table, create one, or trip the affected-partition machinery."""
    out = str(tmp_path / "t")
    empty = spark.createDataFrame([], "id long, v string, p long")
    # against a missing table: nothing created
    stats = merge_upsert(empty, out, keys=["id"], partition_by=["p"])
    assert stats == {"created": False, "affected_partitions": 0, "emptied_partitions": 0}
    assert not os.path.exists(out)
    # against an existing table: files untouched (partitioned and not)
    _seed(spark, out)
    before = _files(out)
    merge_upsert(empty, out, keys=["id"], partition_by=["p"])
    assert _files(out) == before
    flat = str(tmp_path / "flat")
    merge_upsert(spark.createDataFrame([(1, "a")], ["id", "v"]), flat, keys=["id"])
    before_flat = _files(flat)
    merge_upsert(spark.createDataFrame([], "id long, v string"), flat, keys=["id"])
    assert _files(flat) == before_flat


def test_stale_swap_backup_refuses_fresh_create(spark, tmp_path):
    """Crash between the two swap renames leaves the table only under
    __premerge; the next writer must FAIL loudly, never recreate the table
    from one batch over the lost history."""
    import shutil

    from yelp_business_data_pipeline_spark.sources.writers import (
        write_append_idempotent,
    )

    path = str(tmp_path / "t")
    _seed(spark, path)
    # simulate the mid-swap crash: primary renamed aside, staging never in
    shutil.move(path, f"{path}__premerge")
    batch = spark.createDataFrame([(9, "z", 1)], ["id", "v", "p"])
    with pytest.raises(Exception, match="stale swap backup"):
        merge_upsert(batch, path, keys=["id"], partition_by=["p"])
    with pytest.raises(Exception, match="stale swap backup"):
        write_append_idempotent(batch, path, keys=["id"])
    # data still intact under the backup, untouched
    assert sorted(
        (r.id, r.v, r.p)
        for r in spark.read.parquet(f"{path}__premerge").collect()
    ) == [(1, "a", 1), (2, "b", 1), (3, "c", 2), (4, "d", 3)]


def test_completed_swap_leftover_backup_is_cleaned(spark, tmp_path):
    """Crash AFTER the second rename but before the backup delete: primary
    is the new table, backup is stale — the next merge finishes the
    protocol (deletes the backup) and proceeds normally."""
    import os as _os
    import shutil

    path = str(tmp_path / "t")
    _seed(spark, path)
    shutil.copytree(path, f"{path}__premerge")
    merge_upsert(
        spark.createDataFrame([(1, "A", 1)], ["id", "v", "p"]),
        path, keys=["id"], partition_by=["p"],
    )
    assert not _os.path.exists(f"{path}__premerge")
    assert ((1, "A", 1) in _rows(spark, path))


def test_null_partition_in_target_wide_path_merges(spark, tmp_path):
    """A TARGET holding a NULL partition (other writers can produce one)
    must still merge when the merge touches many partitions (40 here): the
    matched null-partition row is rewritten, and the emptied
    __HIVE_DEFAULT_PARTITION__ directory is deleted."""
    import os as _os

    from yelp_business_data_pipeline_spark.sources.writers import write_overwrite

    path = str(tmp_path / "t")
    n = 40
    base = [(i, "old", str(i % 39)) for i in range(1, n)] + [(999, "old", None)]
    write_overwrite(
        spark.createDataFrame(base, ["id", "v", "p"]), path, partition_by=["p"]
    )
    assert _os.path.exists(f"{path}/p=__HIVE_DEFAULT_PARTITION__")
    src = spark.createDataFrame(
        [(i, "new", str(i % 39)) for i in range(1, n)] + [(999, "new", "7")],
        ["id", "v", "p"],
    )
    res = merge_upsert(src, path, keys=["id"], partition_by=["p"])
    assert res["affected_partitions"] > 32
    # a plain re-read re-infers numeric-looking partition strings as ints;
    # compare on stringified partition values (the merge itself reads via
    # _read_target and is unaffected)
    got = sorted(
        (r.id, r.v, str(r.p) if r.p is not None else None)
        for r in spark.read.parquet(path).collect()
    )
    assert (999, "new", "7") in got and (999, "old", None) not in got
    assert len([r for r in got if r[0] == 999]) == 1  # no stranded duplicate
    assert not _os.path.exists(f"{path}/p=__HIVE_DEFAULT_PARTITION__")


def test_boolean_partition_emptied_directory_deleted(spark, tmp_path):
    """Spark writes boolean partition dirs as p=true/p=false; the emptied-
    partition delete must render the value Spark's way, not str(True)."""
    import os as _os

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", True), (2, "b", False)], "id long, v string, p boolean")
    merge_upsert(df, path, keys=["id"], partition_by=["p"])
    assert _os.path.exists(f"{path}/p=true")
    # re-home key 1 from p=true to p=false: p=true empties
    merge_upsert(
        spark.createDataFrame([(1, "a2", False)], "id long, v string, p boolean"),
        path, keys=["id"], partition_by=["p"],
    )
    # plain partition-type inference reads booleans back as strings;
    # compare the stringified directory values
    got = sorted((r.id, r.v, str(r.p)) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a2", "false"), (2, "b", "false")]
    assert not _os.path.exists(f"{path}/p=true")


def test_fractional_timestamp_partition_emptied_directory_deleted(spark, tmp_path):
    """ADVICE r4: Python isoformat pads fractional seconds to 6 digits
    ('.123000') while Spark trims trailing zeros ('.123') — the emptied-
    partition delete must render the Spark way or it silently misses the
    directory and leaves stale rows."""
    import datetime as dt
    import os as _os

    path = str(tmp_path / "t")
    ts = dt.datetime(2024, 3, 1, 10, 30, 0, 123000)
    df = spark.createDataFrame(
        [(1, "a", ts), (2, "b", dt.datetime(2024, 3, 2))], "id long, v string, p timestamp"
    )
    merge_upsert(df, path, keys=["id"], partition_by=["p"])
    frac_dirs = [d for d in _os.listdir(path) if "10%3A30" in d]
    assert len(frac_dirs) == 1 and frac_dirs[0].endswith(".123"), frac_dirs
    # re-home key 1 out of the fractional-seconds partition: it must empty
    merge_upsert(
        spark.createDataFrame(
            [(1, "a2", dt.datetime(2024, 3, 2))], "id long, v string, p timestamp"
        ),
        path, keys=["id"], partition_by=["p"],
    )
    assert not any("10%3A30" in d for d in _os.listdir(path))
    got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a2"), (2, "b")]


def test_unpartitioned_merge_into_path_with_trailing_slash(spark, tmp_path):
    """A table path ending in '/' names the same table: the staging and
    backup directories of the swap are siblings of the table, never
    directories inside it."""
    batches = [
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
        spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]),
    ]
    plain, slashed = str(tmp_path / "plain"), str(tmp_path / "tbl") + "/"
    for batch in batches:
        merge_upsert(batch, plain, keys=["id"])
        merge_upsert(batch, slashed, keys=["id"])

    def rows(path):
        return sorted((r.id, r.v) for r in spark.read.parquet(path).collect())

    assert rows(slashed) == rows(plain) == [(1, "a"), (2, "B"), (3, "c")]
    assert sorted(os.listdir(tmp_path)) == ["plain", "tbl"]
    assert not any(d.startswith("__") for d in os.listdir(slashed))


@pytest.mark.parametrize("partition_by", [["p"], None], ids=["partitioned", "unpartitioned"])
def test_source_column_type_unlike_stored_is_rejected(spark, tmp_path, partition_by):
    """A source column typed unlike the stored one raises before anything
    is written. Otherwise a partitioned table gets DOUBLE files next to
    DECIMAL ones and no longer reads, and an unpartitioned one silently
    turns DOUBLE."""
    from decimal import Decimal

    out = str(tmp_path / "t")
    stored = [(1, Decimal("1.50"), 1), (2, Decimal("2.25"), 2)]
    merge_upsert(
        spark.createDataFrame(stored, "id int, v decimal(10,2), p int"),
        out, keys=["id"], partition_by=partition_by,
    )
    src = spark.createDataFrame([(1, 9.5, 1)], "id int, v double, p int")
    with pytest.raises(ValueError, match=r"column 'v' is decimal\(10,2\) in .* but double"):
        merge_upsert(src, out, keys=["id"], partition_by=partition_by)
    back = spark.read.parquet(out)
    assert back.schema["v"].dataType.simpleString() == "decimal(10,2)"
    assert sorted((r.id, r.v, r.p) for r in back.collect()) == stored
