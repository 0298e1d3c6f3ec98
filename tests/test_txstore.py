"""Write-audit-publish transactional store: atomicity under mid-rewrite
crashes (readers always see the old table or the new one, never a mix),
CAS commit conflicts, audit aborts, vacuum, and the transactional
upsert/erase/compact faces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_spark import txstore
from kinesis_spark.io import load_table
from kinesis_spark.txstore import (
    TxAuditError,
    TxConflictError,
    tx_compact,
    tx_current_manifest,
    tx_erase,
    tx_init,
    tx_publish,
    tx_read,
    tx_upsert,
    tx_vacuum,
)


@pytest.fixture()
def store(spark, sf_dir, tmp_path):
    root = str(tmp_path / "orders_tx")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    tx_init(spark, root, o, partition_col="month")
    return root


def _snapshot(spark, root):
    return sorted(map(tuple, tx_read(spark, root).collect()))


def test_init_and_read_round_trip(spark, sf_dir, store):
    o = load_table(spark, sf_dir, "orders")
    got = tx_read(spark, store)
    assert got.count() == o.count()
    # partition-column type survives the directory round trip
    assert dict(got.dtypes)["month"] == "string"
    man = tx_current_manifest(spark, store)
    assert man["version"] == 1
    assert man["audit"]["staged_rows"] == o.count()


def test_manifest_level_partition_pruning(spark, store):
    months = sorted(
        r[0] for r in tx_read(spark, store).select("month").distinct().collect()
    )
    one = tx_read(spark, store, partition_values=[months[0]])
    assert one.select("month").distinct().collect() == [(months[0],)]
    # pruning happens before any file listing: only the wanted partition's
    # directory appears among the scanned files
    assert all(f"month={months[0]}" in f for f in one.inputFiles())


def test_crash_after_stage_leaves_old_table_visible(spark, store):
    before = _snapshot(spark, store)
    v_before = tx_current_manifest(spark, store)["version"]
    updates = tx_read(spark, store).limit(5).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        tx_publish(spark, store, updates, _fail_at="after-stage")
    assert tx_current_manifest(spark, store)["version"] == v_before
    assert _snapshot(spark, store) == before


def test_crash_after_audit_leaves_old_table_visible(spark, store):
    before = _snapshot(spark, store)
    updates = tx_read(spark, store).limit(5).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        tx_publish(spark, store, updates, _fail_at="after-audit")
    assert _snapshot(spark, store) == before
    # a default-grace vacuum SPARES the fresh orphan — it cannot tell it
    # from an in-flight publish's staging (ADVICE r6) — so within the
    # grace window the table is merely unchanged, not yet reclaimed
    assert not any(
        "_data/" in p for p in tx_vacuum(spark, store, keep_manifests=1)
    )
    # the orphaned stage generation is reclaimable at explicit zero grace
    removed = tx_vacuum(spark, store, keep_manifests=1, tmp_grace_s=0.0)
    assert any("_data/" in p for p in removed)
    assert _snapshot(spark, store) == before


def test_concurrent_commit_from_stale_snapshot_conflicts(spark, store):
    """Two writers whose merges were computed against the same snapshot:
    the first commit wins, the second raises TxConflictError instead of
    silently dropping the winner's rows (lost update)."""
    base = tx_current_manifest(spark, store)
    months = sorted(base["partitions"])[:2]
    upd_a = tx_read(spark, store, partition_values=[months[0]]).withColumn(
        "o_orderstatus", F.lit("A")
    )
    upd_b = tx_read(spark, store, partition_values=[months[1]]).withColumn(
        "o_orderstatus", F.lit("B")
    )
    tx_publish(spark, store, upd_a, expect_version=base["version"])
    with pytest.raises(TxConflictError, match="stale"):
        tx_publish(spark, store, upd_b, expect_version=base["version"])
    # the loser's content never became visible
    after = tx_read(spark, store)
    assert after.filter(F.col("o_orderstatus") == "B").count() == 0
    assert after.filter(F.col("o_orderstatus") == "A").count() > 0
    # partition-DISJOINT writers without a pinned snapshot serialize
    # safely through the mapping merge: retry against the new version
    tx_publish(spark, store, upd_b)
    final = tx_read(spark, store)
    assert final.filter(F.col("o_orderstatus") == "A").count() > 0
    assert final.filter(F.col("o_orderstatus") == "B").count() > 0


def test_audit_rejects_schema_drift(spark, store):
    before = _snapshot(spark, store)
    bad = tx_read(spark, store).limit(3).withColumn(
        "o_totalprice", F.col("o_totalprice").cast("string")  # type drift
    )
    with pytest.raises(TxAuditError, match="type-drift"):
        tx_publish(spark, store, bad)
    assert _snapshot(spark, store) == before


def test_custom_validator_aborts_publish(spark, store):
    before = _snapshot(spark, store)

    def deny(df):
        raise TxAuditError("business rule: no negative prices")

    upd = tx_read(spark, store).limit(1).withColumn("o_totalprice", F.lit(-5.0))
    with pytest.raises(TxAuditError, match="business rule"):
        tx_publish(spark, store, upd, validate=deny)
    assert _snapshot(spark, store) == before


def test_tx_upsert_merges_atomically(spark, store):
    tgt = tx_read(spark, store)
    months = sorted(r[0] for r in tgt.select("month").distinct().collect())
    touched = months[0]
    some_key = tgt.filter(F.col("month") == touched).agg(
        F.min("o_orderkey")
    ).first()[0]
    new_key = tgt.agg(F.max("o_orderkey")).first()[0] + 1_000_000
    # new_key twice in one batch: collapses to ONE whole row, the
    # struct-greatest (1.0, "N") — never a chimera like (1.0, "Z")
    updates = spark.createDataFrame(
        [
            (some_key, 99999.0, "U", touched),
            (new_key, 1.0, "N", touched),
            (new_key, 0.5, "Z", touched),
        ],
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string",
    )
    n_before = tgt.count()
    assert tx_upsert(spark, store, updates, key="o_orderkey") == 1
    after = tx_read(spark, store)
    assert after.count() == n_before + 1
    assert after.filter(F.col("o_orderkey") == some_key).first()[
        "o_totalprice"
    ] == 99999.0
    new_rows = after.filter(F.col("o_orderkey") == new_key).collect()
    assert [(r.o_totalprice, r.o_orderstatus) for r in new_rows] == [(1.0, "N")]
    # untouched partitions still point at the original generation
    man = tx_current_manifest(spark, store)
    gens = {
        rel.split("/")[1]
        for k, rels in man["partitions"].items()
        if k != touched
        for rel in rels
    }
    assert len(gens) == 1  # all untouched partitions share the v1 generation
    assert man["partitions"][touched][0].split("/")[1] not in gens
    # the same batch again (a CDC replay) leaves the same content
    merged = _snapshot(spark, store)
    assert tx_upsert(spark, store, updates, key="o_orderkey") == 1
    assert _snapshot(spark, store) == merged


def test_tx_erase_empties_partition_atomically(spark, store):
    tgt = tx_read(spark, store)
    months = sorted(r[0] for r in tgt.select("month").distinct().collect())
    victim = months[0]
    keys = tgt.filter(F.col("month") == victim).select("o_orderkey")
    audit = tx_erase(spark, store, keys, key="o_orderkey")
    row = {r["partition_value"]: r for r in audit.collect()}[victim]
    assert row["partition_emptied"] is True
    after = tx_read(spark, store)
    assert after.filter(F.col("month") == victim).count() == 0
    assert victim not in tx_current_manifest(spark, store)["partitions"]
    # erased generation still on disk until vacuum; table already consistent
    tx_vacuum(spark, store, keep_manifests=1)
    assert after.count() == tx_read(spark, store).count()
    # a key the store does not hold: empty audit, no new version
    v = tx_current_manifest(spark, store)["version"]
    unknown = spark.createDataFrame([(-1,)], "o_orderkey long")
    assert tx_erase(spark, store, unknown, key="o_orderkey").count() == 0
    assert tx_current_manifest(spark, store)["version"] == v
    # an erasure against a store that does not exist must not no-op
    with pytest.raises(FileNotFoundError):
        tx_erase(spark, store + "_missing", unknown, key="o_orderkey")


def test_tx_compact_single_swap(spark, store):
    # fragment one partition by upserting a few times
    tgt = tx_read(spark, store)
    month = tgt.select("month").first()[0]
    for i in range(3):
        upd = spark.createDataFrame(
            [(9_000_000 + i, float(i), "F", month)],
            "o_orderkey long, o_totalprice double, o_orderstatus string, month string",
        )
        tx_upsert(spark, store, upd, key="o_orderkey")
    before = _snapshot(spark, store)
    n_parts = len(tx_current_manifest(spark, store)["partitions"])
    n_files = tx_compact(spark, store)
    assert n_files == n_parts  # one file per partition value
    assert _snapshot(spark, store) == before
    man = tx_current_manifest(spark, store)
    assert (
        len({rel.split("/")[1] for rels in man["partitions"].values() for rel in rels})
        == 1
    )


def test_null_partition_value_round_trip(spark, tmp_path):
    root = str(tmp_path / "null_part")
    df = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", None), (3, "c", "p1")],
        "id long, payload string, part string",
    )
    tx_init(spark, root, df, partition_col="part")
    got = tx_read(spark, root)
    assert got.filter(F.col("part").isNull()).count() == 1
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    null_slice = tx_read(spark, root, partition_values=[None])
    assert null_slice.count() == 1


def test_tx_rollup_refresh_matches_full_recompute_and_survives_crash(
    spark, sf_dir, tmp_path
):
    """tx_refresh_daily_rollup: bootstrap + incremental merge equal the
    from-scratch rollup of both batches, days the second batch does not
    touch keep their generation, every generation stores the one
    decimal(38,6) sum type, an empty batch publishes nothing, and a crash
    mid-refresh leaves the previous rollup fully visible."""
    from kinesis_spark.io import load_table, normalize_events_ts
    from kinesis_spark.rollup import daily_rollup_state, tx_refresh_daily_rollup

    events = normalize_events_ts(load_table(spark, sf_dir, "events"))
    days = sorted(
        r[0] for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    split_day = days[len(days) // 2]
    # batch2 shares its days with batch1, so the second refresh merges
    # into stored state; days up to split_day are batch1's alone
    late = F.to_date("ts") > F.lit(split_day)
    batch1 = events.filter(~late | (F.col("event_id") % 2 == 0))
    batch2 = events.filter(late & (F.col("event_id") % 2 == 1))

    def days_of(df):
        return {str(r[0]) for r in df.select(F.to_date("ts")).distinct().collect()}

    days2 = days_of(batch2)
    tx_root = str(tmp_path / "tx")
    assert tx_refresh_daily_rollup(spark, tx_root, batch1) == len(days_of(batch1))
    assert tx_refresh_daily_rollup(spark, tx_root, batch2) == len(days2)
    cols = ["day", "event_type", "n_events", "sum_value"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    want = rows(daily_rollup_state(batch1.unionByName(batch2)))
    assert rows(tx_read(spark, tx_root)) == want and len(want) > 0
    # day partition type survives the manifest round trip
    assert dict(tx_read(spark, tx_root).dtypes)["day"] == "date"
    # days batch2 did not touch keep the bootstrap generation; the
    # merged days share the second refresh's
    man = tx_current_manifest(spark, tx_root)
    gen = {day: rels[0].split("/")[1] for day, rels in man["partitions"].items()}
    boot = {g for day, g in gen.items() if day not in days2}
    merged = {g for day, g in gen.items() if day in days2}
    assert len(boot) == len(merged) == 1 and boot != merged
    for g in boot | merged:
        stored = dict(spark.read.parquet(f"{tx_root}/_data/{g}").dtypes)
        assert stored["sum_value"] == "decimal(38,6)"
    # an empty batch: nothing rewritten, no new version
    assert tx_refresh_daily_rollup(spark, tx_root, events.filter(F.lit(False))) == 0
    assert tx_current_manifest(spark, tx_root)["version"] == man["version"]

    # crash mid-refresh (publish never happens): old rollup untouched
    before = tx_current_manifest(spark, tx_root)
    overlap = tx_read(spark, tx_root)  # re-merge batch2: would double-count
    with pytest.raises(RuntimeError, match="simulated crash"):
        tx_publish(
            spark,
            tx_root,
            overlap,
            partition_col="day",
            _fail_at="after-audit",
        )
    assert tx_current_manifest(spark, tx_root)["version"] == before["version"]
    assert rows(tx_read(spark, tx_root)) == want


def test_time_travel_reads_prior_versions(spark, store):
    """Every retained manifest is a complete snapshot: after an upsert,
    version 1 still reads the original table bit-for-bit; vacuuming
    past the retention window retires it loudly."""
    v1 = sorted(map(tuple, tx_read(spark, store, version=1).collect()))
    assert v1 == _snapshot(spark, store)
    month = tx_read(spark, store).select("month").first()[0]
    upd = spark.createDataFrame(
        [(7_777_777, 1.0, "T", month)],
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string",
    )
    tx_upsert(spark, store, upd, key="o_orderkey")
    now = _snapshot(spark, store)
    assert len(now) == len(v1) + 1
    # version 1 unchanged underneath the new commit
    assert sorted(map(tuple, tx_read(spark, store, version=1).collect())) == v1
    with pytest.raises(FileNotFoundError, match="never committed"):
        tx_read(spark, store, version=99)
    # retention: keep only the latest manifest -> v1 is retired
    tx_vacuum(spark, store, keep_manifests=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tx_read(spark, store, version=1)
    assert _snapshot(spark, store) == now  # current version untouched


def test_streaming_tx_upsert_commits_one_version_per_batch(spark, store, tmp_path):
    """CDC loop over the transactional store: each micro-batch is one
    atomic commit (version bump), later batches overwrite earlier keys,
    and a checkpointed replay converges to the same content."""
    import time as _time

    from kinesis_spark.txstore import streaming_tx_upsert_query

    month = tx_read(spark, store).select("month").first()[0]
    schema = (
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING, month STRING"
    )
    updates_dir = tmp_path / "updates"
    updates_dir.mkdir()
    spark.createDataFrame(
        [(88888801, 11.0, "A", month), (88888802, 12.0, "A", month)], schema
    ).coalesce(1).write.mode("overwrite").json(str(updates_dir / "b0"))
    _time.sleep(1.1)  # distinct mtimes => deterministic file-source order
    spark.createDataFrame(
        [(88888801, 99.0, "Z", month)], schema
    ).coalesce(1).write.mode("overwrite").json(str(updates_dir / "b1"))

    v0 = tx_current_manifest(spark, store)["version"]

    def _drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(updates_dir) + "/*")
        )
        q = streaming_tx_upsert_query(
            spark, stream, store, "o_orderkey", str(tmp_path / "ckpt")
        )
        assert q.awaitTermination(120)
        q.stop()

    _drain()
    assert tx_current_manifest(spark, store)["version"] == v0 + 2  # one per batch
    got = {
        r.o_orderkey: (r.o_totalprice, r.o_orderstatus)
        for r in tx_read(spark, store)
        .filter(F.col("o_orderkey").isin([88888801, 88888802]))
        .collect()
    }
    assert got == {88888801: (99.0, "Z"), 88888802: (12.0, "A")}
    # restart against the same checkpoint: nothing new -> no commit
    _drain()
    assert tx_current_manifest(spark, store)["version"] == v0 + 2


def test_tx_append_is_atomic_and_compactable(spark, store):
    """Atomic multi-partition append: the staged generation joins each
    touched partition's list in one swap; a crash mid-append leaves the
    batch entirely invisible; compact collapses the grown lists."""
    from kinesis_spark.txstore import tx_append

    before = _snapshot(spark, store)
    months = sorted(
        r[0] for r in tx_read(spark, store).select("month").distinct().collect()
    )[:2]
    schema = (
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string"
    )
    batch = spark.createDataFrame(
        [(6_000_001, 1.0, "ZZ", months[0]), (6_000_002, 2.0, "ZZ", months[1])], schema
    )
    man = tx_append(spark, store, batch)
    assert len(man["partitions"][months[0]]) == 2  # v1 gen + appended gen
    after = tx_read(spark, store)
    assert after.count() == len(before) + 2
    assert after.filter(F.col("o_orderstatus") == "ZZ").count() == 2

    # crash mid-append: nothing from the batch becomes visible
    snap = _snapshot(spark, store)
    with pytest.raises(RuntimeError, match="simulated crash"):
        tx_publish(spark, store, batch, append=True, _fail_at="after-audit")
    assert _snapshot(spark, store) == snap

    # compact collapses every generation list back to length 1
    tx_compact(spark, store)
    man2 = tx_current_manifest(spark, store)
    assert all(len(rels) == 1 for rels in man2["partitions"].values())
    assert _snapshot(spark, store) == snap


def test_tx_history_tracks_commits(spark, store):
    from kinesis_spark.txstore import tx_history

    month = tx_read(spark, store).select("month").first()[0]
    upd = spark.createDataFrame(
        [(5_500_000, 1.0, "H", month)],
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string",
    )
    tx_upsert(spark, store, upd, key="o_orderkey")
    h = {r["version"]: r for r in tx_history(spark, store).collect()}
    assert set(h) == {1, 2}
    assert h[1]["replace_all"] is True and h[1]["base_version"] == 0
    assert h[2]["replace_all"] is False and h[2]["n_staged_partitions"] == 1
    assert h[2]["staged_rows"] > 0


def test_tx_zorder_compact_clusters_atomically(spark, store):
    """Transactional OPTIMIZE..ZORDER: content identical after the swap,
    one new version, and within each output file the clustered columns'
    min/max ranges narrow (the data-skipping precondition)."""
    from kinesis_spark.txstore import tx_zorder_compact

    before = _snapshot(spark, store)
    v = tx_current_manifest(spark, store)["version"]
    man = tx_zorder_compact(
        spark, store, "o_orderkey", "o_totalprice", n_files=8
    )
    assert man["version"] == v + 1
    assert _snapshot(spark, store) == before
    # clustered: per-file o_orderkey spans are narrower than the global
    df = tx_read(spark, store)
    spans = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg((F.max("o_orderkey") - F.min("o_orderkey")).alias("span"))
        .agg(F.avg("span"))
        .first()[0]
    )
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert spans < (hi - lo)  # narrower than an unclustered shuffle


def test_schema_evolution_adds_column_atomically(spark, store):
    """allow_schema_evolution: a commit may add a column; old
    generations read it as NULL; without the flag the audit rejects."""
    month = tx_read(spark, store).select("month").first()[0]
    extended = (
        tx_read(spark, store, partition_values=[month])
        .withColumn("quality", F.lit(0.5))
    )
    with pytest.raises(TxAuditError, match="extra=\\['quality'\\]"):
        tx_publish(spark, store, extended)
    man = tx_publish(spark, store, extended, allow_schema_evolution=True)
    assert "quality" in [f["name"] for f in man["schema"]["fields"]]
    df = tx_read(spark, store)
    assert df.filter(F.col("month") == month).filter(
        F.col("quality") == 0.5
    ).count() > 0
    # untouched partitions (old generations) read the new column as NULL
    assert df.filter(F.col("month") != month).filter(
        F.col("quality").isNull()
    ).count() > 0
    assert df.filter((F.col("month") != month) & F.col("quality").isNotNull()).count() == 0


@pytest.fixture()
def ml_store(spark, tmp_path):
    """Multi-level (cell, tenant) store — the filtered-ANN index layout."""
    root = str(tmp_path / "ml_tx")
    rows = [(i, f"pay{i}", i % 3, f"t{i % 2}") for i in range(60)]
    df = spark.createDataFrame(
        rows, "id long, payload string, cell int, tenant string"
    )
    tx_init(spark, root, df, partition_col=["cell", "tenant"])
    return root


def _all_data_files(spark, root):
    """Every ROW physically on disk under _data/ — partition schema NOT
    inferred, so this sees superseded generations too (the erasure
    evidence scan)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{root}/_data")
    )


def test_tx_erase_retention_destroys_history(spark, store):
    """VERDICT r5 task 1: erase_retention=True makes tx_erase an actual
    erasure-compliance primitive — after it, (a) time travel below the
    erase version raises, (b) NO parquet file under _data/ contains an
    erased key (including superseded generations shared with untouched
    partitions), (c) the surviving table is exactly the survivors."""
    tgt = tx_read(spark, store)
    months = sorted(r[0] for r in tgt.select("month").distinct().collect())
    victim_month = months[0]
    # erase SOME keys of one month: the month survives with a new
    # generation, while the shared bootstrap generation still serves
    # the other months — the hard case for physical deletion
    victims = [
        r[0]
        for r in tgt.filter(F.col("month") == victim_month)
        .select("o_orderkey")
        .limit(3)
        .collect()
    ]
    keys = spark.createDataFrame([(k,) for k in victims], "o_orderkey long")
    expect = sorted(
        map(tuple, tgt.filter(~F.col("o_orderkey").isin(victims)).collect())
    )
    pre_version = tx_current_manifest(spark, store)["version"]
    audit = tx_erase(spark, store, keys, key="o_orderkey", erase_retention=True)
    assert audit.agg(F.sum("n_rows_erased")).first()[0] == len(victims)
    # (a) time travel truncated below the erase version
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tx_read(spark, store, version=pre_version)
    # (b) the erased keys' bytes are GONE from every file on disk
    on_disk = _all_data_files(spark, store)
    assert on_disk.filter(F.col("o_orderkey").isin(victims)).count() == 0
    # ... and nothing beyond the retained manifest's file set survives:
    # disk rows == current-table rows
    assert on_disk.count() == tx_read(spark, store).count()
    # (c) the table is exactly the survivors
    assert _snapshot(spark, store) == expect


def test_tx_erase_default_retention_contract(spark, store):
    """Without erase_retention, the superseded bytes stay readable via
    time travel until a vacuum — the documented two-step compliance
    path tx_erase + tx_vacuum(keep_manifests=1)."""
    tgt = tx_read(spark, store)
    victims = [r[0] for r in tgt.select("o_orderkey").limit(2).collect()]
    keys = spark.createDataFrame([(k,) for k in victims], "o_orderkey long")
    tx_erase(spark, store, keys, key="o_orderkey")
    # erased keys still on disk and still readable at version 1
    assert (
        tx_read(spark, store, version=1)
        .filter(F.col("o_orderkey").isin(victims))
        .count()
        == len(victims)
    )
    tx_vacuum(spark, store, keep_manifests=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tx_read(spark, store, version=1)


def test_tx_upsert_multilevel(spark, ml_store):
    """VERDICT r5 task 2: tx_upsert on a (cell, tenant) LIST-partitioned
    store — merge per key, touched partition TUPLES rewritten, untouched
    tuples keep their original generation. An empty batch publishes
    nothing, and a NULL key is one key: upserted once, replaced, then
    erased."""
    tgt = tx_read(spark, ml_store)
    n_before = tgt.count()
    updates = spark.createDataFrame(
        [(5, "UPDATED", 2, "t1"), (100, "NEW", 1, "t0")],
        "id long, payload string, cell int, tenant string",
    )
    assert tx_upsert(spark, ml_store, updates, key="id") == 2
    after = tx_read(spark, ml_store)
    assert after.count() == n_before + 1
    assert after.filter(F.col("id") == 5).first()["payload"] == "UPDATED"
    assert after.filter(F.col("id") == 100).first()["payload"] == "NEW"
    man = tx_current_manifest(spark, ml_store)
    import json as _json

    touched = {_json.dumps(["2", "t1"]), _json.dumps(["1", "t0"])}
    untouched_gens = {
        rel.split("/")[1]
        for k, rels in man["partitions"].items()
        if k not in touched
        for rel in rels
    }
    assert len(untouched_gens) == 1  # all still on the bootstrap generation
    for k in touched:
        assert man["partitions"][k][0].split("/")[1] not in untouched_gens

    # an empty batch on a partitioned store: 0 rewritten, no new version
    empty = spark.createDataFrame([], updates.schema)
    assert tx_upsert(spark, ml_store, empty, key="id") == 0
    assert tx_current_manifest(spark, ml_store)["version"] == man["version"]

    # a NULL-key update REPLACES the NULL-key row, never duplicates it
    def null_rows():
        return [
            r.payload
            for r in tx_read(spark, ml_store).filter(F.col("id").isNull()).collect()
        ]

    for payload in ("NULL1", "NULL2"):
        upd = spark.createDataFrame([(None, payload, 1, "t0")], updates.schema)
        assert tx_upsert(spark, ml_store, upd, key="id") == 1
    assert null_rows() == ["NULL2"]
    assert tx_read(spark, ml_store).count() == n_before + 2
    # ... and a NULL key in an erasure request erases that row
    req = spark.createDataFrame([(None,)], "id long")
    audit = tx_erase(spark, ml_store, req, key="id").collect()
    assert [
        (r.partition_value, r.n_rows_erased, r.n_keys_matched, r.partition_emptied)
        for r in audit
    ] == [(_json.dumps(["1", "t0"]), 1, 1, False)]
    assert null_rows() == []


def test_tx_erase_multilevel_with_retention(spark, ml_store):
    """VERDICT r5 tasks 1+2 composed: erase across partition tuples of a
    multi-level store with retention destruction; the audit keys are the
    manifest's JSON tuple keys and the bytes are gone from disk."""
    import json as _json

    tgt = tx_read(spark, ml_store)
    # all keys of one tuple (empties it) + one key of another
    empty_tuple_ids = [
        r[0]
        for r in tgt.filter(
            (F.col("cell") == 0) & (F.col("tenant") == "t0")
        ).select("id").collect()
    ]
    victims = empty_tuple_ids + [7]  # id 7 -> (cell 1, tenant t1)
    n_before = tgt.count()  # before the erase destroys tgt's files
    keys = spark.createDataFrame([(k,) for k in victims], "id long")
    audit = tx_erase(spark, ml_store, keys, key="id", erase_retention=True)
    rows = {r["partition_value"]: r for r in audit.collect()}
    k_emptied = _json.dumps(["0", "t0"])
    k_partial = _json.dumps(["1", "t1"])
    assert rows[k_emptied]["partition_emptied"] is True
    assert rows[k_emptied]["n_rows_erased"] == len(empty_tuple_ids)
    assert rows[k_partial]["partition_emptied"] is False
    assert rows[k_partial]["n_rows_erased"] == 1
    after = tx_read(spark, ml_store)
    assert after.filter(F.col("id").isin(victims)).count() == 0
    assert after.count() == n_before - len(victims)
    # physical: no surviving file holds an erased id; disk == table
    on_disk = _all_data_files(spark, ml_store)
    assert on_disk.filter(F.col("id").isin(victims)).count() == 0
    assert on_disk.count() == after.count()
    assert k_emptied not in tx_current_manifest(spark, ml_store)["partitions"]


def test_tx_upsert_unpartitioned(spark, tmp_path):
    root = str(tmp_path / "flat_tx")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, payload string"
    )
    tx_init(spark, root, df)
    updates = spark.createDataFrame([(2, "B"), (9, "z")], "id long, payload string")
    assert tx_upsert(spark, root, updates, key="id") == 1
    got = {r.id: r.payload for r in tx_read(spark, root).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 9: "z"}


def test_tx_erase_unpartitioned(spark, tmp_path):
    root = str(tmp_path / "flat_tx2")
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(10)], "id long, payload string"
    )
    tx_init(spark, root, df)
    keys = spark.createDataFrame([(3,), (4,)], "id long")
    audit = tx_erase(spark, root, keys, key="id", erase_retention=True)
    row = audit.first()
    assert row["n_rows_erased"] == 2 and row["partition_emptied"] is False
    assert tx_read(spark, root).count() == 8
    on_disk = _all_data_files(spark, root)
    assert on_disk.filter(F.col("id").isin([3, 4])).count() == 0
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tx_read(spark, root, version=1)


def test_tx_erase_unpartitioned_no_hit_is_a_noop(spark, tmp_path):
    """Review fix: on the unpartitioned path groupBy() is a GLOBAL
    aggregate (one row even with zero matches), so the no-hit detection
    must read the count — a miss publishes nothing (and with
    erase_retention must NOT destroy history), keeping the streaming
    erasure face's replay-convergence contract."""
    root = str(tmp_path / "flat_nohit")
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(6)], "id long, payload string"
    )
    tx_init(spark, root, df)
    missing = spark.createDataFrame([(999,), (998,)], "id long")
    audit = tx_erase(spark, root, missing, key="id", erase_retention=True)
    assert audit.count() == 0
    assert tx_current_manifest(spark, root)["version"] == 1  # no commit
    assert tx_read(spark, root, version=1).count() == 6  # history intact
    # replaying the same no-op (the streaming face's checkpoint replay)
    # still publishes nothing
    tx_erase(spark, root, missing, key="id")
    assert tx_current_manifest(spark, root)["version"] == 1


def test_tx_erase_unpartitioned_full_erase_empties_table(spark, tmp_path):
    """Review fix: erasing EVERY row of an unpartitioned store publishes
    the empty table (mapping {}), mirroring the partitioned path where
    an emptied partition drops out — and the audit says so."""
    root = str(tmp_path / "flat_all")
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(5)], "id long, payload string"
    )
    tx_init(spark, root, df)
    everyone = spark.createDataFrame([(i,) for i in range(5)], "id long")
    audit = tx_erase(spark, root, everyone, key="id", erase_retention=True)
    row = audit.first()
    assert row["n_rows_erased"] == 5 and row["partition_emptied"] is True
    assert tx_current_manifest(spark, root)["partitions"] == {}
    assert tx_read(spark, root).count() == 0
    # bytes gone too: no parquet file survives anywhere under _data
    import glob as _glob

    assert _glob.glob(f"{root}/_data/**/*.parquet", recursive=True) == []


def test_conditional_put_arbiter_single_winner(spark, store):
    """VERDICT r5 task 3: the commit CAS is an injectable seam. Race two
    committers through a fake S3-style conditional-PUT arbiter
    (If-None-Match: * — the check-and-install is ONE atomic store-side
    call); both reach the arbiter before either installs (barrier), and
    exactly one commit wins — the loser gets TxConflictError and its
    content never becomes visible."""
    import threading

    from kinesis_spark.txstore import CommitArbiter, _fs_write_text

    barrier = threading.Barrier(2, timeout=120)

    class FakeConditionalPutArbiter(CommitArbiter):
        def __init__(self):
            self._lock = threading.Lock()
            self._committed: set[str] = set()

        def commit(self, spark, log_dir, filename, text):
            barrier.wait()  # both committers are past staging+audit
            key = f"{log_dir}/{filename}"
            with self._lock:  # the object store's atomic conditional PUT
                if key in self._committed:
                    raise TxConflictError(f"412 precondition failed: {key}")
                self._committed.add(key)
                _fs_write_text(spark, key, text)

    arbiter = FakeConditionalPutArbiter()
    months = sorted(tx_current_manifest(spark, store)["partitions"])[:2]
    results: dict[str, object] = {}

    def committer(tag: str, month: str):
        upd = tx_read(spark, store, partition_values=[month]).withColumn(
            "o_orderstatus", F.lit(tag)
        )
        try:
            results[tag] = tx_publish(spark, store, upd, arbiter=arbiter)
        except TxConflictError as exc:
            results[tag] = exc

    threads = [
        threading.Thread(target=committer, args=("XA", months[0])),
        threading.Thread(target=committer, args=("XB", months[1])),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    outcomes = {tag: type(r).__name__ for tag, r in results.items()}
    assert sorted(outcomes.values()) == ["TxConflictError", "dict"], outcomes
    winner = next(t for t, r in results.items() if isinstance(r, dict))
    loser = next(t for t, r in results.items() if not isinstance(r, dict))
    after = tx_read(spark, store)
    assert after.filter(F.col("o_orderstatus") == winner).count() > 0
    assert after.filter(F.col("o_orderstatus") == loser).count() == 0
    assert tx_current_manifest(spark, store)["version"] == 2


def test_tx_diff_append_scans_only_new_generations(spark, store):
    """CDC between versions: an append diffs as pure inserts, and the
    plan reads ONLY the appended generation — zero old data touched
    (the manifest-diff pruning that makes CDC free on append-only
    tables)."""
    from kinesis_spark.txstore import tx_append, tx_diff

    months = sorted(
        r[0] for r in tx_read(spark, store).select("month").distinct().collect()
    )[:2]
    schema = (
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string"
    )
    batch = spark.createDataFrame(
        [(7_100_001, 1.0, "ZA", months[0]), (7_100_002, 2.0, "ZB", months[1])],
        schema,
    )
    man = tx_append(spark, store, batch)
    diff = tx_diff(spark, store, from_version=1, to_version=man["version"])
    rows = sorted((r.o_orderkey, r._change, r._n) for r in diff.collect())
    assert rows == [(7_100_001, "insert", 1), (7_100_002, "insert", 1)]
    # pruning: the only files the diff reads belong to the appended
    # generation (both versions share the bootstrap generation, which is
    # immutable and therefore pruned from both sides)
    appended_gen = man["partitions"][months[0]][-1].split("/")[1]
    files = diff.inputFiles()
    assert files and all(appended_gen in f for f in files)


def test_tx_diff_upsert_erase_and_identity(spark, store):
    """Upserts diff as delete+insert pairs of the changed key, erases as
    deletes, and a content-preserving compaction diffs as EMPTY."""
    from kinesis_spark.txstore import tx_diff

    tgt = tx_read(spark, store)
    month = tgt.select("month").first()[0]
    victim = tgt.filter(F.col("month") == month).agg(F.min("o_orderkey")).first()[0]
    old_price = tgt.filter(F.col("o_orderkey") == victim).first()["o_totalprice"]
    v1 = tx_current_manifest(spark, store)["version"]

    upd = spark.createDataFrame(
        [(victim, 123456.0, "U", month)],
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string",
    )
    tx_upsert(spark, store, upd, key="o_orderkey")
    v2 = tx_current_manifest(spark, store)["version"]
    d12 = {
        (r.o_orderkey, r._change): (r.o_totalprice, r._n)
        for r in tx_diff(spark, store, v1, v2)
        .filter(F.col("o_orderkey") == victim)
        .collect()
    }
    assert d12 == {
        (victim, "delete"): (old_price, 1),
        (victim, "insert"): (123456.0, 1),
    }
    # the diff is scoped to the changed key — nothing else surfaced
    assert tx_diff(spark, store, v1, v2).count() == 2

    keys = spark.createDataFrame([(victim,)], "o_orderkey long")
    tx_erase(spark, store, keys, key="o_orderkey")
    v3 = tx_current_manifest(spark, store)["version"]
    d23 = [(r._change, r._n) for r in tx_diff(spark, store, v2, v3).collect()]
    assert d23 == [("delete", 1)]

    tx_compact(spark, store)
    v4 = tx_current_manifest(spark, store)["version"]
    assert tx_diff(spark, store, v3, v4).count() == 0  # rewrite, same content


def test_tx_diff_bag_multiplicities(spark, tmp_path):
    """Exact bag semantics: duplicate rows diff by multiplicity delta,
    not set membership."""
    from kinesis_spark.txstore import tx_diff

    root = str(tmp_path / "bag_tx")
    df1 = spark.createDataFrame(
        [(1, "x", "p"), (1, "x", "p"), (2, "y", "p")],
        "id long, payload string, part string",
    )
    tx_init(spark, root, df1, partition_col="part")
    df2 = spark.createDataFrame(
        [(1, "x", "p"), (2, "y", "p"), (2, "y", "p"), (2, "y", "p")],
        "id long, payload string, part string",
    )
    tx_publish(spark, root, df2, partition_col="part")
    got = sorted(
        (r.id, r._change, r._n) for r in tx_diff(spark, root, 1, 2).collect()
    )
    assert got == [(1, "delete", 1), (2, "insert", 2)]


def test_tx_compact_partitions_targets_only_fragmented(spark, store):
    """Targeted compaction: only partitions whose generation lists grew
    collapse to one generation; every untouched partition keeps its
    EXACT rels (byte-untouched files); content identical."""
    from kinesis_spark.txstore import tx_append, tx_compact_partitions

    months = sorted(
        r[0] for r in tx_read(spark, store).select("month").distinct().collect()
    )
    victim = months[0]
    schema = (
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string"
    )
    for i in range(3):
        tx_append(
            spark,
            store,
            spark.createDataFrame(
                [(8_200_000 + i, float(i), "ZZ", victim)], schema
            ),
        )
    before = _snapshot(spark, store)
    man1 = tx_current_manifest(spark, store)
    assert len(man1["partitions"][victim]) == 4  # bootstrap + 3 appends
    assert tx_compact_partitions(spark, store) == 1
    man2 = tx_current_manifest(spark, store)
    assert len(man2["partitions"][victim]) == 1
    for k in man1["partitions"]:
        if k != victim:  # untouched partitions: identical rels
            assert man2["partitions"][k] == man1["partitions"][k]
    assert _snapshot(spark, store) == before
    # idempotent: nothing fragmented -> no commit
    v = man2["version"]
    assert tx_compact_partitions(spark, store) == 0
    assert tx_current_manifest(spark, store)["version"] == v


def test_tx_compact_partitions_multilevel(spark, ml_store):
    from kinesis_spark.txstore import tx_append, tx_compact_partitions

    batch = spark.createDataFrame(
        [(900, "pp", 0, "t0"), (901, "qq", 1, "t1")],
        "id long, payload string, cell int, tenant string",
    )
    tx_append(spark, ml_store, batch)
    before = _snapshot(spark, ml_store)
    assert tx_compact_partitions(spark, ml_store) == 2
    man = tx_current_manifest(spark, ml_store)
    assert all(len(rels) == 1 for rels in man["partitions"].values())
    assert _snapshot(spark, ml_store) == before


def test_tx_restore_rolls_back_without_data_movement(spark, store):
    """RESTORE: a bad run's commits are undone by one manifest swap that
    re-references the old generations verbatim; history stays intact;
    diff(restored, original) is empty; vacuum after the restore keeps
    the re-referenced generations alive."""
    from kinesis_spark.txstore import tx_diff, tx_manifest, tx_restore

    v1_content = _snapshot(spark, store)
    month = tx_read(spark, store).select("month").first()[0]
    # two "bad" commits: an upsert and an erase
    upd = spark.createDataFrame(
        [(9_700_001, 666.0, "BAD", month)],
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string",
    )
    tx_upsert(spark, store, upd, key="o_orderkey")
    victims = tx_read(spark, store).select("o_orderkey").limit(2)
    tx_erase(spark, store, victims, key="o_orderkey")
    assert _snapshot(spark, store) != v1_content

    man = tx_restore(spark, store, version=1)
    assert man["version"] == 4  # init + upsert + erase + restore
    assert man["audit"]["token"] == "restore-00000001"
    assert _snapshot(spark, store) == v1_content
    # zero data movement: the restored mapping IS version 1's mapping
    assert man["partitions"] == tx_manifest(spark, store, 1)["partitions"]
    assert tx_diff(spark, store, 1, 4).count() == 0
    # the bad versions remain readable for forensics until vacuumed
    assert tx_read(spark, store, version=3).count() == len(v1_content) - 1
    # restoring HEAD is a no-op (no new version)
    assert tx_restore(spark, store, version=4)["version"] == 4
    assert tx_current_manifest(spark, store)["version"] == 4
    # vacuum keeps the re-referenced generations alive
    tx_vacuum(spark, store, keep_manifests=1)
    assert _snapshot(spark, store) == v1_content
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tx_read(spark, store, version=2)


def test_manifest_stats_data_skipping(spark, tmp_path):
    """Iceberg-style data skipping at the MANIFEST: generations publish
    [min, max] of the stats columns; tx_read(stats_filter=...) drops
    non-overlapping generation dirs before any file listing — an
    append-ordered range query reads only the matching appends.
    Generations without stats are conservatively kept, and the skip is
    a superset guarantee (content equals the full read, filtered)."""
    from kinesis_spark.txstore import tx_append, tx_manifest

    root = str(tmp_path / "stats_tx")
    schema = "id long, seq long, part string"

    def batch(lo):  # 100-wide disjoint seq ranges per append
        return spark.createDataFrame(
            [(lo + i, lo + i, f"p{i % 2}") for i in range(100)], schema
        )

    tx_init(spark, root, batch(0), partition_col="part", stats_columns=["seq"])
    tx_append(spark, root, batch(1000), stats_columns=["seq"])
    tx_append(spark, root, batch(2000), stats_columns=["seq"])
    tx_append(spark, root, batch(3000))  # NO stats: must stay readable

    man = tx_current_manifest(spark, root)
    assert "rel_stats" in man
    # every generation of the first three commits has seq stats
    with_stats = {r for r, s in man["rel_stats"].items() if "seq" in s}
    all_rels = {r for rels in man["partitions"].values() for r in rels}
    assert len(all_rels) == 8  # 4 commits x 2 partitions
    assert len(with_stats) == 6

    # range hits ONLY the second append: two generation dirs read...
    hit = tx_read(spark, root, stats_filter={"seq": (1010, 1020)})
    # ...plus the stats-less generation, conservatively kept
    gens = {f.split("/_data/")[1].split("/")[0] for f in hit.inputFiles()}
    assert len(gens) == 2  # the 1000-append + the no-stats append
    # superset guarantee: filtered content equals the full read filtered
    want = sorted(
        map(tuple, tx_read(spark, root).filter(
            (F.col("seq") >= 1010) & (F.col("seq") <= 1020)
        ).collect())
    )
    got = sorted(
        map(tuple, hit.filter(
            (F.col("seq") >= 1010) & (F.col("seq") <= 1020)
        ).collect())
    )
    assert got == want and len(got) == 11

    # a miss on every recorded range still reads the stats-less gen only
    miss = tx_read(spark, root, stats_filter={"seq": (9_000_000, None)})
    gens_miss = {f.split("/_data/")[1].split("/")[0] for f in miss.inputFiles()}
    assert len(gens_miss) == 1
    assert miss.filter(F.col("seq") < 3000).count() == 0

    # stats survive an upsert of an unrelated partition slice and carry
    # through restore; a compact (no stats_columns) drops to full reads
    from kinesis_spark.txstore import tx_restore

    v = man["version"]
    tx_restore(spark, root, 2)
    man_r = tx_manifest(spark, root, v + 1)
    assert set(man_r.get("rel_stats", {})) == {
        r for rels in man_r["partitions"].values() for r in rels
    } & set(man["rel_stats"])


def test_rules_validator_gates_the_commit(spark, store):
    """Write-AUDIT-publish with real expectations: quality.validate's
    declarative rules run as the audit validator in one staged-files
    pass — a batch violating any rule beyond the allowed rate aborts
    with per-rule counts, the table untouched; a tolerance admits a
    bounded bad fraction; clean batches publish."""
    from kinesis_spark.txstore import rules_validator, tx_append

    month = tx_read(spark, store).select("month").first()[0]
    schema = (
        "o_orderkey long, o_totalprice double, o_orderstatus string, month string"
    )
    rules = {
        "price_positive": F.col("o_totalprice") > 0,
        "key_present": F.col("o_orderkey").isNotNull(),
    }
    before = _snapshot(spark, store)
    v = tx_current_manifest(spark, store)["version"]

    bad = spark.createDataFrame(
        [(9_800_001, -5.0, "ZZ", month), (9_800_002, 10.0, "ZZ", month)], schema
    )
    with pytest.raises(TxAuditError, match="price_positive: 1/2 rows"):
        tx_publish(spark, store, bad, append=True, validate=rules_validator(rules))
    assert tx_current_manifest(spark, store)["version"] == v
    assert _snapshot(spark, store) == before

    # a 50% tolerance admits the same batch
    tx_publish(
        spark,
        store,
        bad,
        append=True,
        validate=rules_validator(rules, max_violation_rate=0.5),
    )
    assert tx_read(spark, store).filter(
        F.col("o_orderkey").isin([9_800_001, 9_800_002])
    ).count() == 2

    good = spark.createDataFrame([(9_800_003, 1.0, "ZZ", month)], schema)
    tx_publish(spark, store, good, append=True, validate=rules_validator(rules))
    assert tx_read(spark, store).filter(F.col("o_orderkey") == 9_800_003).count() == 1


def test_manifest_stats_keys_survive_type_inference_traps(spark, tmp_path):
    """Review fix: stats are keyed by the raw partition DIRECTORY path,
    not hive type inference — boolean and zero-padded partition values
    (whose inferred form round-trips to a different string) must still
    get stats, and the skip must still fire on them."""
    from kinesis_spark.txstore import tx_manifest

    root = str(tmp_path / "bool_tx")
    df = spark.createDataFrame(
        [(1, 10, True, "01"), (2, 20, True, "01"),
         (3, 1000, False, "1"), (4, 2000, False, "1")],
        "id long, seq long, flag boolean, code string",
    )
    tx_init(spark, root, df, partition_col=["flag", "code"],
            stats_columns=["seq"])
    man = tx_manifest(spark, root)
    # every generation dir earned stats despite bool/zero-padded values
    all_rels = {r for rels in man["partitions"].values() for r in rels}
    assert set(man["rel_stats"]) == all_rels and len(all_rels) == 2
    hit = tx_read(spark, root, stats_filter={"seq": (0, 100)})
    assert sorted(r.id for r in hit.collect()) == [1, 2]
    assert all("flag=true" in f for f in hit.inputFiles())  # other gen skipped


def test_vacuum_spares_fresh_tmp_manifests(spark, store, tmp_path):
    """ADVICE r5 (low): a vacuum running concurrently with an in-flight
    publish must not delete the publisher's just-written temp manifest.
    Fresh .tmp- files survive the sweep; stale ones (crashed publishes)
    are reclaimed."""
    import os

    log_dir = f"{store}/_txlog"
    fresh = os.path.join(log_dir, ".tmp-inflight.json")
    stale = os.path.join(log_dir, ".tmp-crashed.json")
    for p in (fresh, stale):
        with open(p, "w") as f:
            f.write("{}")
    old = __import__("time").time() - 7200
    os.utime(stale, (old, old))
    removed = tx_vacuum(spark, store, keep_manifests=1)
    assert any(p.endswith(".tmp-crashed.json") for p in removed)
    assert not any(p.endswith(".tmp-inflight.json") for p in removed)
    assert os.path.exists(fresh) and not os.path.exists(stale)


def test_vacuum_spares_fresh_staged_data_tokens(spark, store):
    """ADVICE r6 (medium): an in-flight publish stages its generation
    under _data/<token> BEFORE committing the manifest — a concurrent
    vacuum must not delete it (the publish would commit a manifest
    pointing at missing files). Fresh never-referenced tokens survive;
    stale orphans (crashed publishes) are reclaimed; and superseded
    tokens (referenced only by dropped manifests) still delete
    immediately so erase_retention's destruction guarantee holds."""
    import os
    import time as _time

    data_dir = f"{store}/_data"
    fresh = os.path.join(data_dir, "g-inflight")
    stale = os.path.join(data_dir, "g-crashed")
    for d in (fresh, stale):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
    old = _time.time() - 7200
    os.utime(stale, (old, old))

    # a superseded generation: version 2 rewrites everything, so v1's
    # token is referenced only by the to-be-dropped manifest
    tx_publish(
        spark, store, tx_read(spark, store), partition_col="month",
        replace_all=True,
    )
    import json

    with open(f"{store}/_txlog/00000001.json") as f:
        v1_tokens = {
            rel.split("/")[1]
            for rels in json.load(f)["partitions"].values()
            for rel in rels
        }

    removed = tx_vacuum(spark, store, keep_manifests=1)
    assert os.path.exists(fresh), "in-flight staged generation was vacuumed"
    assert not os.path.exists(stale), "crashed-publish orphan survived"
    assert any(p.endswith("g-crashed") for p in removed)
    # superseded (dropped-manifest-referenced) generations went despite
    # being younger than the grace window
    assert any("/_data/" in p and not p.endswith("g-crashed") for p in removed)
    for t in v1_tokens:
        assert not os.path.exists(os.path.join(data_dir, t))
    # zero grace reclaims the fresh orphan too (explicit operator choice)
    removed2 = tx_vacuum(spark, store, keep_manifests=1, tmp_grace_s=0.0)
    assert any(p.endswith("g-inflight") for p in removed2)
    assert not os.path.exists(fresh)


def test_vacuum_never_touches_versions_newer_than_its_snapshot(spark, store):
    """r7 review: a writer can commit version N+1 while a vacuum that
    snapshotted retention at N is mid-sweep. The sweep must treat every
    version above its snapshot as live — deleting the newer manifest
    (or its generation) would silently roll back an acknowledged
    commit. Simulated by invoking the sweep with a stale snapshot."""
    from kinesis_spark.txstore import _vacuum_to

    before = _snapshot(spark, store)
    extra = tx_read(spark, store).limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    tx_publish(spark, store, extra, append=True)  # version 2 "lands mid-vacuum"
    after = _snapshot(spark, store)
    assert len(after) == len(before) + 3

    removed = _vacuum_to(spark, store, keep_versions=[1], tmp_grace_s=0.0)
    # nothing of version 2 was touched: manifest still present, data intact
    assert not any(p.endswith("00000002.json") for p in removed)
    assert tx_current_manifest(spark, store)["version"] == 2
    assert _snapshot(spark, store) == after


def test_tx_upsert_unpartitioned_empty_updates_is_noop(spark, tmp_path):
    """ADVICE r6 (low): an empty updates DataFrame (e.g. an empty
    micro-batch from streaming_tx_upsert_query) must not publish a
    pointless full-table rewrite on an unpartitioned store."""
    root = str(tmp_path / "flat_tx")
    rows = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    )
    txstore.tx_init(spark, root, rows, partition_col=None)
    v_before = tx_current_manifest(spark, root)["version"]
    n = tx_upsert(
        spark, root, spark.createDataFrame([], "k int, v string"), key="k"
    )
    assert n == 0
    assert tx_current_manifest(spark, root)["version"] == v_before


def test_streaming_tx_erasure_applies_and_replays(spark, store, tmp_path):
    import time as _time

    from kinesis_spark.txstore import streaming_tx_erasure_query

    tgt = tx_read(spark, store)
    victims = [r[0] for r in tgt.select("o_orderkey").limit(4).collect()]
    req_dir = tmp_path / "reqs"
    req_dir.mkdir()
    spark.createDataFrame(
        [(k,) for k in victims[:2]], "o_orderkey long"
    ).coalesce(1).write.mode("overwrite").json(str(req_dir / "b0"))
    _time.sleep(1.1)
    spark.createDataFrame(
        [(k,) for k in victims[2:]], "o_orderkey long"
    ).coalesce(1).write.mode("overwrite").json(str(req_dir / "b1"))

    def _drain():
        stream = (
            spark.readStream.schema("o_orderkey long")
            .option("maxFilesPerTrigger", 1)
            .json(str(req_dir) + "/*")
        )
        q = streaming_tx_erasure_query(
            spark, stream, store, "o_orderkey", str(tmp_path / "ckpt")
        )
        assert q.awaitTermination(120)
        q.stop()

    n_before = tgt.count()
    _drain()
    after = tx_read(spark, store)
    assert after.count() == n_before - 4
    assert after.filter(F.col("o_orderkey").isin(victims)).count() == 0
    v = tx_current_manifest(spark, store)["version"]
    _drain()  # checkpoint replay: nothing new, no extra commits
    assert tx_current_manifest(spark, store)["version"] == v
