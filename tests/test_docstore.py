"""Custom Python DataSource (docstore): pushdown, pruning, parity.

The oracle-parity suite already diffs `scan_docstore_pushdown` against
DuckDB; these tests pin the DSv2 mechanics — that pushFilters accepts the
right subset, that accepted ts filters prune whole files via the manifest
(metadata-only, before any read), and that unsupported filters are handed
back to Spark.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    IsNotNull,
    LessThanOrEqual,
)

from build_pipeline_with_apache_beam_spark.sources.docstore import (
    MANIFEST,
    DocStoreReader,
    build_collection,
    scan_docstore_pushdown,
)


def _reader_for(root: str) -> DocStoreReader:
    return DocStoreReader({"path": root})


def test_manifest_prunes_files_from_pushed_ts_range(spark, sf_dir):
    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        n_files = len(json.load(fh))
    assert n_files > 7  # one file per event-day; the range below is 3 days

    r = _reader_for(root)
    lo = 1704672000000000  # 2024-01-08 00:00:00 UTC in micros
    hi = 1704931199999999  # 2024-01-10 23:59:59.999999 UTC
    rejected = list(r.pushFilters([
        GreaterThanOrEqual(("ts_micros",), lo),
        LessThanOrEqual(("ts_micros",), hi),
    ]))
    assert rejected == []  # both comparisons accepted
    with open(os.path.join(root, MANIFEST)) as fh:
        want = {os.path.join(root, m["file"]) for m in json.load(fh)
                if m["max_ts"] >= lo and m["min_ts"] <= hi}
    assert 0 < len(want) < n_files
    read = [p for part in r.partitions() for p in part.paths]
    # exactly the overlapping day files, each read once: packing files into
    # fewer partitions must neither drop a survivor nor let a pruned one in
    assert sorted(read) == sorted(want)


def test_unsupported_filters_are_returned_to_spark(spark, sf_dir):
    root = build_collection(spark, sf_dir)
    r = _reader_for(root)
    keep = IsNotNull(("event_type",))
    rejected = list(r.pushFilters([keep, EqualTo(("event_type",), "click")]))
    assert rejected == [keep]


def test_stream_restart_consumes_only_new_files(spark, sf_dir, tmp_path):
    """Kill-and-restart semantics: a second run against the same checkpoint
    must pick up exactly the files appended since the committed offset —
    no reprocessing, no gaps (the at-least-once contract the reference
    hand-rolls with SQLite watermarks, retrieval.py:30-60)."""
    import shutil

    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        DocStoreDataSource,
    )

    spark.dataSource.register(DocStoreDataSource)
    src = build_collection(spark, sf_dir)
    # private copy so we can append without touching the shared collection
    root = str(tmp_path / "coll")
    shutil.copytree(src, root)
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    head, tail = manifest[:-2], manifest[-2:]
    held_back = [os.path.join(root, m["file"]) for m in tail]
    parked = [p + ".parked" for p in held_back]
    for p, q in zip(held_back, parked):
        os.rename(p, q)
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(head, fh)

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_once():
        stream = (spark.readStream.format("docstore")
                  .option("path", root).load())

        def fb(df, bid):
            df.write.mode("append").parquet(sink)

        q = (stream.writeStream.foreachBatch(fb)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first > 0

    # "new data arrives": restore the held-back files + full manifest
    for p, q in zip(held_back, parked):
        os.rename(q, p)
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh)
    run_once()

    total = spark.read.parquet(sink).count()
    n_events = sum(1 for m in manifest
                   for _ in open(os.path.join(root, m["file"])))
    # every event exactly once across both runs: restart added only the tail
    assert total == n_events, (n_first, total, n_events)
    assert total > n_first


def test_docstore_scan_matches_native_parquet_read(spark, sf_dir):
    """End-to-end through the registered source: same rows as filtering the
    parquet events table directly."""
    from build_pipeline_with_apache_beam_spark.catalog import load_table

    got = scan_docstore_pushdown(spark, sf_dir)
    lo, hi = "2024-01-08 00:00:00", "2024-01-14 23:59:59.999999"
    want = (load_table(spark, sf_dir, "events")
            .where(F.col("ts").between(lo, hi)
                   & (F.col("event_type") == "purchase")))
    assert got.count() == want.count()
    assert got.where(F.col("event_type") != "purchase").count() == 0


def test_concurrent_appends_serialize_without_loss(spark, sf_dir, tmp_path):
    """Two threads appending batches concurrently: the manifest lock
    serializes the commits, so BOTH batches land (no lost manifest entry)
    and the collection re-reads with every appended row."""
    import shutil
    import threading

    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        DocStoreDataSource,
        append_batch,
        build_collection,
    )

    spark.dataSource.register(DocStoreDataSource)
    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "appcoll")
    shutil.copytree(src, root)

    ev = load_table(spark, sf_dir, "events")
    base_n = spark.read.format("docstore").option("path", root).load().count()

    def one_batch(tag, offset):
        late = (ev.orderBy("event_id").limit(50)
                .select((F.col("event_id") + offset).alias("event_id"),
                        F.unix_micros("ts").alias("ts_micros"),
                        "user_id", "event_type", "value"))
        append_batch(spark, root, late, name=f"batch-{tag}")

    ta = threading.Thread(target=one_batch, args=("a", 20_000_000))
    tb = threading.Thread(target=one_batch, args=("b", 30_000_000))
    ta.start(); tb.start(); ta.join(120); tb.join(120)

    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    names = {m["file"] for m in manifest}
    assert {"batch-a.jsonl", "batch-b.jsonl"} <= names, "manifest entry lost"
    total = spark.read.format("docstore").option("path", root).load().count()
    assert total == base_n + 100


def test_append_batch_refuses_duplicate_name_and_skips_empty(spark, sf_dir,
                                                             tmp_path):
    """A committed batch file can never be truncated: re-using a batch
    name raises before any data is touched.  An empty batch publishes
    nothing (no manifest entry, no Infinity stats)."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        append_batch,
        build_collection,
    )

    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "dupcoll")
    shutil.copytree(src, root)
    ev = load_table(spark, sf_dir, "events")
    batch = (ev.limit(5)
             .select((F.col("event_id") + 50_000_000).alias("event_id"),
                     F.unix_micros("ts").alias("ts_micros"),
                     "user_id", "event_type", "value"))

    entry = append_batch(spark, root, batch, name="b1")
    assert entry["file"] == "b1.jsonl"
    before = open(os.path.join(root, "b1.jsonl")).read()
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="b1")
    assert open(os.path.join(root, "b1.jsonl")).read() == before

    empty = batch.where("event_id < 0")
    assert append_batch(spark, root, empty, name="b-empty") is None
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    assert all(m["file"] != "b-empty.jsonl" for m in manifest)


def test_stream_read_failure_retries_without_loss(spark, sf_dir, tmp_path):
    """R9 redelivery on the SOURCE side: a partition read that dies after
    emitting some rows is retried by Spark (local[N, 2]), the micro-batch
    re-reads the file from offset zero, and the sink ends up with every
    row exactly as committed — no loss, no duplicate batch commit."""
    import shutil

    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        DocStoreDataSource,
    )

    spark.dataSource.register(DocStoreDataSource)
    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "failcoll")
    shutil.copytree(src, root)
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    # poison the first file's FIRST read attempt
    victim = os.path.join(root, manifest[0]["file"])
    open(victim + ".fail_once", "w").close()

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream = spark.readStream.format("docstore").option("path", root).load()

    def fb(df, bid):
        df.write.mode("append").parquet(sink)

    q = (stream.writeStream.foreachBatch(fb)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    n_expected = sum(1 for m in manifest
                     for _ in open(os.path.join(root, m["file"])))
    got = spark.read.parquet(sink)
    assert got.count() == n_expected
    assert got.select("event_id").distinct().count() == n_expected


def test_reader_yields_arrow_record_batches(spark, sf_dir):
    """Round-12: the DSv2 read path must stay Arrow-batched — one
    columnar parse per file, filters applied vectorized — not revert to
    per-document tuples (the r11 scale ceiling)."""
    import pyarrow as pa
    from pyspark.sql.datasource import GreaterThanOrEqual

    root = build_collection(spark, sf_dir)
    r = _reader_for(root)
    list(r.pushFilters([GreaterThanOrEqual(("value",), 0.0)]))
    parts = r.partitions()
    batches = list(r.read(parts[0]))
    assert batches, "first partition read empty"
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert batches[0].schema.names == [
        "event_id", "ts_micros", "user_id", "event_type", "value"]
    # vectorized filter applied inside the read
    assert all(v >= 0.0 for b in batches
               for v in b.column("value").to_pylist())


def test_filter_that_empties_every_file_yields_zero_rows(spark, sf_dir):
    """Edge of the Arrow path: a pushed row-level filter that matches
    nothing (but prunes no files — value has no manifest stats) must
    produce an empty scan, not a crash on empty batch iterators."""
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        DocStoreDataSource,
    )

    spark.dataSource.register(DocStoreDataSource)
    root = build_collection(spark, sf_dir)
    got = (spark.read.format("docstore").option("path", root).load()
           .where(F.col("value") > 1e12))
    assert got.count() == 0


def test_vectorized_filters_match_rowwise_semantics_property():
    """Property (round-12): for arbitrary docs and filter sets, the Arrow
    path's vectorized filter application equals the r11 row-at-a-time
    matcher — including the null-never-matches rule — on every row."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        LessThanOrEqual,
    )

    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        ARROW_SCHEMA,
        DocStoreReader,
    )

    doc = st.fixed_dictionaries({
        "event_id": st.integers(0, 50),
        "ts_micros": st.one_of(st.none(), st.integers(0, 10)),
        "user_id": st.integers(0, 5),
        "event_type": st.sampled_from(["click", "view", None]),
        "value": st.one_of(st.none(), st.floats(-2, 2, allow_nan=False)),
    })
    filt = st.lists(st.one_of(
        st.builds(lambda v: EqualTo(("event_type",), v),
                  st.sampled_from(["click", "view"])),
        st.builds(lambda v: GreaterThan(("ts_micros",), v),
                  st.integers(0, 10)),
        st.builds(lambda v: LessThanOrEqual(("value",), v),
                  st.floats(-2, 2, allow_nan=False)),
    ), max_size=3)

    def row_matches(d, filters):  # the r11 matcher, verbatim semantics
        for f in filters:
            v = d.get(f.attribute[0])
            if v is None:
                return False
            if isinstance(f, EqualTo) and not v == f.value:
                return False
            if isinstance(f, GreaterThan) and not v > f.value:
                return False
            if isinstance(f, LessThanOrEqual) and not v <= f.value:
                return False
        return True

    @settings(max_examples=200, deadline=None)
    @given(docs=st.lists(doc, max_size=20), filters=filt)
    def check(docs, filters):
        table = pa.Table.from_pylist(docs, schema=ARROW_SCHEMA)
        r = DocStoreReader({"path": "/nonexistent"})
        r.filters = filters
        got = r._apply_filters(table).to_pylist()
        want = [
            {k: d[k] for k in ARROW_SCHEMA.names}
            for d in docs if row_matches(d, filters)
        ]
        assert got == want

    check()


def test_multipart_append_one_entry_no_driver_bytes(spark, sf_dir,
                                                    tmp_path):
    """Round-12: a batch written across several partitions publishes its
    staged part files DIRECTLY (hard links, no driver concatenation) as
    ONE manifest entry — streaming offsets count entries, so the batch
    still commits atomically and re-reads losslessly."""
    import shutil

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        DocStoreDataSource,
        append_batch,
        build_collection,
    )

    spark.dataSource.register(DocStoreDataSource)
    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "mp_coll")
    shutil.copytree(src, root)
    base_n = spark.read.format("docstore").option("path", root).load().count()

    ev = load_table(spark, sf_dir, "events")
    late = (ev.limit(120)
            .select((F.col("event_id") + 70_000_000).alias("event_id"),
                    F.unix_micros("ts").alias("ts_micros"),
                    "user_id", "event_type", "value")
            .repartition(4))  # force a multi-part staged write
    entry = append_batch(spark, root, late, name="mp-batch")
    assert "files" in entry and len(entry["files"]) > 1, entry
    assert all(n.startswith("mp-batch-p") for n in entry["files"])

    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    assert manifest[-1] == entry  # ONE entry for the whole batch
    total = spark.read.format("docstore").option("path", root).load().count()
    assert total == base_n + 120
    # duplicate batch name still refused, any partitioning
    import pytest as _pytest
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, late, name="mp-batch")


def test_count_documents_manifest_only_runs_zero_jobs(spark, sf_dir):
    """Round-12 verdict #7: a count over a window that fully covers
    every overlapping file is answered from manifest row-count stats —
    ZERO Spark jobs, zero file bytes; a mid-day window opens ONLY the two
    boundary files.  (Why not a pushed-down COUNT(*): the Python
    DataSource API has no aggregate-pushdown hook — see
    count_documents' docstring.)"""
    from datetime import datetime, timezone

    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        build_collection,
        count_documents,
    )

    root = build_collection(spark, sf_dir)

    def micros(s):
        return int(datetime.fromisoformat(s).replace(
            tzinfo=timezone.utc).timestamp() * 1_000_000)

    from build_pipeline_with_apache_beam_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")

    # leg 1: whole-collection window → pure metadata, no Spark job
    sc = spark.sparkContext
    group = "count-manifest-only"
    sc.setJobGroup(group, "manifest-only count")
    stats: dict = {}
    try:
        n = count_documents(spark, root, micros("2020-01-01 00:00:00"),
                            micros("2030-01-01 00:00:00"), stats=stats)
    finally:
        sc.setJobGroup("", "")
    assert n == events.count()
    assert stats["n_opened"] == 0
    assert stats["n_manifest_only"] == stats["n_entries"]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 0, f"manifest-only count ran {n_jobs} Spark jobs"

    # leg 2: mid-day window → exactly the two boundary day-files opened,
    # count still exact
    lo, hi = micros("2024-01-08 12:00:00"), micros("2024-01-14 11:59:59")
    stats2: dict = {}
    n2 = count_documents(spark, root, lo, hi, stats=stats2)
    want = events.where(
        (F.unix_micros("ts") >= lo) & (F.unix_micros("ts") <= hi)).count()
    assert n2 == want
    assert stats2["n_opened"] == 2, stats2
    assert stats2["n_manifest_only"] >= 1
    assert stats2["n_pruned"] >= 1


def test_append_batch_reclaims_stale_claim_from_dead_producer(
        spark, sf_dir, tmp_path):
    """A crash between sentinel creation and manifest publish must not
    block the batch name forever: an at-least-once producer retrying the
    same name (its natural idempotence key) reclaims the dead claim and
    commits.  A claim held by a LIVE process stays refused, as does a
    name whose batch actually committed."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        append_batch,
        build_collection,
    )

    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "stalecoll")
    shutil.copytree(src, root)
    ev = load_table(spark, sf_dir, "events")
    batch = (ev.limit(5)
             .select((F.col("event_id") + 60_000_000).alias("event_id"),
                     F.unix_micros("ts").alias("ts_micros"),
                     "user_id", "event_type", "value"))

    # 1. stale claim: dead pid in the sentinel, no manifest entry, plus an
    #    orphan data file the crash left linked but uncommitted
    dead_pid = 2 ** 22 + 12345  # beyond pid_max on this host — never alive
    with open(os.path.join(root, ".bz.claimed"), "w") as fh:
        fh.write(str(dead_pid))
    with open(os.path.join(root, "bz.jsonl"), "w") as fh:
        fh.write('{"orphan": true}\n')
    entry = append_batch(spark, root, batch, name="bz")
    assert entry is not None and entry["n"] == 5
    # the orphan bytes were replaced by the retried batch's real data
    assert '"orphan"' not in open(os.path.join(root, "bz.jsonl")).read()
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    assert sum(1 for m in manifest if m.get("file") == "bz.jsonl") == 1

    # 2. live claim: sentinel owned by THIS process — refused
    with open(os.path.join(root, ".blive.claimed"), "w") as fh:
        fh.write(str(os.getpid()))
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="blive")

    # 3. committed batch whose producer has since died: entry exists in
    #    the manifest, so the name stays taken even with a dead-pid claim
    with open(os.path.join(root, ".bz.claimed"), "w") as fh:
        fh.write(str(dead_pid))
    before = open(os.path.join(root, "bz.jsonl")).read()
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="bz")
    assert open(os.path.join(root, "bz.jsonl")).read() == before

    # 4. legacy zero-byte sentinel (no pid recorded): never reclaimed
    open(os.path.join(root, ".blegacy.claimed"), "w").close()
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="blegacy")

    # 5. claim recorded by ANOTHER host (r15, ADVICE r14): os.kill liveness
    #    is host-local, so even a "dead-looking" pid is refused when the
    #    sentinel's hostname differs — a live appender on a second machine
    #    sharing the collection root must never have its claim stolen
    with open(os.path.join(root, ".bremote.claimed"), "w") as fh:
        fh.write(f"some-other-host:{dead_pid}")
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="bremote")


def _write_jsonl(path: str, n_rows: int, ts0: int) -> None:
    line = json.dumps({"event_id": 1, "ts_micros": ts0, "user_id": 1,
                       "event_type": "click", "value": 1.5}) + "\n"
    with open(path, "w") as fh:
        fh.write(line * n_rows)


@pytest.mark.parametrize("cpus", [1, 2, 4, 8])
def test_partitions_pack_files_by_bytes(tmp_path, monkeypatch, cpus):
    """Files are packed into about one partition per core the way Spark
    packs a file scan (each file costs its bytes plus a 4 MB open cost;
    split size = min(128 MB, max(open cost, total cost / cores))), not
    one partition per file.  Covers both readers, a pruned batch scan and
    stream ranges that span a multi-part ``files`` entry."""
    from build_pipeline_with_apache_beam_spark.catalog import (
        MAX_PARTITION_BYTES,
        OPEN_COST_BYTES,
    )
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        DocStoreStreamReader,
    )

    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    root = str(tmp_path)
    # mixed sizes: one ~19 MB file, two of 2-3 MB, a three-part entry and
    # many tiny day files
    rows = [200_000, 30_000, 25_000] + [1 + 3 * i for i in range(12)]
    manifest = []
    for i, n in enumerate(rows):
        lo = i * 1_000_000
        if i == 3:
            names = [f"mp-p{k:04d}.jsonl" for k in range(3)]
            for k, name in enumerate(names):
                _write_jsonl(os.path.join(root, name), n + k, lo)
            manifest.append({"files": names, "min_ts": lo, "max_ts": lo,
                             "n": 3 * n + 3})
        else:
            _write_jsonl(os.path.join(root, f"d{i:02d}.jsonl"), n, lo)
            manifest.append({"file": f"d{i:02d}.jsonl", "min_ts": lo,
                             "max_ts": lo, "n": n})
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh)

    def paths(entries):
        return [os.path.join(root, f) for m in entries
                for f in (m["files"] if "files" in m else [m["file"]])]

    def check(parts, want):
        got = [p for part in parts for p in part.paths]
        assert sorted(got) == sorted(want)  # each file in exactly one part
        assert 0 < len(parts) <= cpus
        total = sum(os.path.getsize(p) + OPEN_COST_BYTES for p in want)
        max_split = min(MAX_PARTITION_BYTES,
                        max(OPEN_COST_BYTES, total // cpus))
        for part in parts:
            if len(part.paths) > 1:
                assert sum(map(os.path.getsize, part.paths)) <= max_split
        return max_split

    # batch reader: every file, then only the files the ts range keeps
    max_split = check(DocStoreReader({"path": root}).partitions(),
                      paths(manifest))
    if cpus == 8:  # the big file is over the split size: alone it goes
        assert os.path.getsize(paths(manifest)[0]) > max_split
    r = DocStoreReader({"path": root})
    list(r.pushFilters([GreaterThanOrEqual(("ts_micros",), 2_000_000)]))
    check(r.partitions(), paths(manifest[2:]))
    # stream reader: offsets stay manifest-entry indices
    sr = DocStoreStreamReader({"path": root})
    for lo, hi in [(0, len(manifest)), (2, 6), (3, 4), (5, 9)]:
        check(sr.partitions({"file_idx": lo}, {"file_idx": hi}),
              paths(manifest[lo:hi]))
