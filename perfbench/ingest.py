"""``ingest`` workload: the reference's upload loop into one record store,
then a streaming replay of the fixture's events.

Upload loop (``EtlPipeline``): a pass uploads the ``PASS_FORMATS``
batches (CSV read with ``inferSchema=False``, JSON, TXT, XML), each
followed by ``records(latest_n=50)``. Each batch is a seeded sample of
the sf0.01 fixture's ``documents``, with a per-upload ``doc_id`` range
so keys stay unique; a seeded share of ``lang`` values is blanked, which
``validate`` must count. Columns are added at fixed uploads, so the
schema registry versions the store; formats and drift points are fixed
so that every seed does the same registry work. The pass also calls
``upsert(keys=["doc_id"])`` halfway (half of its keys already stored)
and ``migrate()`` at the end. Every ``IngestReport`` is checked against
the known counts of its batch.

Streaming replay: the fixture's ``events`` (time-ordered) are cut into
two chunk files, one per trigger. A seeded share of the events from the
last 90 minutes of chunk 0 is moved into chunk 1 (out of order, inside
the 2-hour watermark) and another share is sent again in chunk 1
(redelivered duplicates). A far-future sentinel row ends chunk 1 and
pushes the watermark past every real event. ``user_running_totals``
runs over ``stream_events_dir`` and is drained by
``run_available_now_to_memory``; its last emission per user is checked
against the batch twin.

Each run ends with the drift episode: a CSV upload, then a JSON upload
of the same keys (``doc_id`` string in one, bigint in the other), then
``records()``, ``migrate()``, ``records()``. ``SchemaRegistry.register``
compares field names only, so both batches share one ``_schema_version``
directory holding ``doc_id`` as a string in one file and a bigint in
the other. ``records()`` fails because Spark refuses to merge the two
footers (``CANNOT_MERGE_SCHEMAS``), and ``migrate()``, the repair
``records()`` names, fails reading that directory
(``PARQUET_COLUMN_DATA_TYPE_MISMATCH``) before it rewrites anything.
Those ops are counted as failed ops, as known-defect failures only
while they fail in exactly that way: a fix shows as fewer failed ops,
and any other failure is unexpected.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

SF = "0.01"
BATCH_DOCS = 200
PASS_FORMATS = ["csv", "json", "txt", "xml", "csv", "json"]
# (column, index of the first pass upload that carries it)
ADDED_COLUMNS = [("region", 1), ("tier", 3)]
MISSING_LANG_SHARE = 0.02
UPSERT_DOCS = 100
DRIFT_DOCS = 50
# keys of upload k are k * ID_STRIDE + the fixture's doc_id
ID_STRIDE = 1000
LATE_WINDOW_US = 90 * 60 * 1_000_000
OUT_OF_ORDER_SHARE = 0.5
REDELIVERED_SHARE = 0.5
SENTINEL_USER = -1
# The documented failures of the drift episode at this commit: records()
# hits Spark's schema merge error; migrate() fails reading the partition
# that holds both doc_id types, or returns without rewriting it.
RECORDS_DEFECT = r"CANNOT_MERGE_SCHEMAS"
MIGRATE_DEFECT = r"PARQUET_COLUMN_DATA_TYPE_MISMATCH|rewrote 0 partitions"


@dataclass
class Upload:
    path: str
    fmt: str
    n_records: int
    n_issues: int
    doc_ids: list = field(default_factory=list)


def _batch_frame(docs: pd.DataFrame, k: int, rng,
                 extra_cols: list[str]) -> pd.DataFrame:
    out = pd.DataFrame({
        "doc_id": (docs["doc_id"] % ID_STRIDE + k * ID_STRIDE).astype(str).values,
        "content": docs["text"].values,
        "lang": docs["lang"].values.astype(object),
        "source": docs["source"].values,
    })
    missing = rng.random(len(out)) < MISSING_LANG_SHARE
    out.loc[missing, "lang"] = None
    for c in extra_cols:
        out[c] = rng.choice(["a", "b", "c"], len(out))
    return out


def _write_upload(path: Path, fmt: str, frame: pd.DataFrame,
                  numeric_ids: bool = False) -> Upload:
    if fmt == "csv":
        frame.to_csv(path, index=False, na_rep="")
        n_issues = int(frame["lang"].isna().sum())
    elif fmt == "json":
        with open(path, "w") as fh:
            for rec in frame.to_dict(orient="records"):
                rec = {k: v for k, v in rec.items() if v is not None}
                if numeric_ids:
                    rec["doc_id"] = int(rec["doc_id"])
                fh.write(json.dumps(rec) + "\n")
        n_issues = int(frame["lang"].isna().sum())
    elif fmt == "txt":
        path.write_text("\n".join(frame["content"]) + "\n")
        n_issues = 0
    elif fmt == "xml":
        from xml.sax.saxutils import escape, quoteattr

        rows = [
            f"<doc id={quoteattr(d)} source={quoteattr(s)}>{escape(t)}</doc>"
            for d, s, t in zip(frame["doc_id"], frame["source"], frame["content"])
        ]
        path.write_text("<docs>\n" + "\n".join(rows) + "\n</docs>\n")
        n_issues = 0
    else:
        raise ValueError(fmt)
    return Upload(str(path), fmt, len(frame), n_issues, list(frame["doc_id"]))


def _stream_chunks(rng, events: pa.Table) -> tuple[list[pa.Table], dict]:
    """Two chunk tables of the time-ordered ``events`` plus the replay
    facts."""
    n = events.num_rows
    off = events.column("ts").cast(pa.int64()).to_numpy()
    cut = off[n // 2]
    late = (off >= cut - LATE_WINDOW_US) & (off < cut)
    u = rng.random(n)
    moved = late & (u < OUT_OF_ORDER_SHARE)
    redelivered = late & ~moved & (
        u < OUT_OF_ORDER_SHARE + REDELIVERED_SHARE * (1 - OUT_OF_ORDER_SHARE))
    first = (off < cut) & ~moved
    idx = np.arange(n)
    chunk0 = events.take(idx[first])
    chunk1 = pa.concat_tables([
        events.take(idx[moved]),
        events.take(idx[off >= cut]),
        events.take(idx[redelivered]),
    ])
    facts = {"events": n, "chunk_rows": [chunk0.num_rows, chunk1.num_rows],
             "out_of_order": int(moved.sum()), "redelivered": int(redelivered.sum())}
    return [chunk0, chunk1], facts


def _sentinel(schema: pa.Schema, last_ts) -> pa.Table:
    far = np.datetime64(last_ts, "us") + np.timedelta64(60, "D")
    return pa.table({
        "event_id": [10 ** 12], "ts": pa.array([far], pa.timestamp("us")),
        "user_id": [SENTINEL_USER], "event_type": ["view"], "value": [0.0],
        "props": ['{"k": 0}'],
    }).cast(schema)


def _running_totals(real: pa.Table) -> pd.DataFrame:
    """Batch twin of ``user_running_totals`` after the whole replay."""
    con = duckdb.connect()
    con.register("ev", real)
    want = con.execute(
        "SELECT user_id, count(*) AS n_events, "
        "CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value "
        "FROM ev GROUP BY user_id").fetchdf()
    con.close()
    return want


_INTS = ["int8", "int16", "int32", "int64"]


def _widen(types: set[str]) -> str:
    """The store's union type for a column, as ``migrate()`` documents
    it: integers widen to the larger integer, any other numeric mix to
    double, anything else to string."""
    if len(types) == 1:
        return next(iter(types))
    if types <= set(_INTS):
        return max(types, key=_INTS.index)
    if types <= set(_INTS) | {"float", "double"}:
        return "double"
    return "string"


def expected_rewrites(records_dir: str) -> int:
    """Partitions ``migrate()`` must rewrite, from the parquet footers
    (read with pyarrow): those missing a column of the store's union, or
    holding a column whose type differs between its files or from the
    union type. Nullability is ignored, as Spark's schema merge does."""
    parts = []
    union: dict[str, set] = {}
    for part in sorted(Path(records_dir).glob("_schema_version=*")):
        cols: dict[str, set] = {}
        for f in sorted(part.glob("*.parquet")):
            for field_ in pq.read_schema(f):
                t = str(field_.type).replace(" not null", "")
                cols.setdefault(field_.name, set()).add(t)
        parts.append(cols)
        for c, ts in cols.items():
            union.setdefault(c, set()).update(ts)
    want = {c: _widen(ts) for c, ts in union.items()}
    return sum(
        1 for cols in parts
        if set(cols) != set(want)
        or any(ts != {want[c]} for c, ts in cols.items())
    )


class Workload:
    throughput_groups = {"pipeline.ingest", "pipeline.upsert"}

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.store = str(work / "store")
        self.docs = datagen.load(SF, "documents").to_pandas()
        up = work / "uploads"
        up.mkdir(parents=True)

        def sample(n):
            return self.docs.iloc[self.rng.choice(len(self.docs), n, replace=False)]

        def batch(k, docs, extra=()):
            return _batch_frame(docs, k, self.rng, list(extra))

        # upload k carries keys k * ID_STRIDE + fixture doc_id: 0 is the
        # set-up upload, 1.. the pass uploads, then the upsert and drift
        self.setup_upload = _write_upload(up / "setup.csv", "csv",
                                          batch(0, sample(BATCH_DOCS)))
        self.uploads = []
        for i, fmt in enumerate(PASS_FORMATS):
            extra = [c for c, at in ADDED_COLUMNS if i >= at]
            self.uploads.append(_write_upload(
                up / f"u{i:02d}.{fmt}", fmt, batch(i + 1, sample(BATCH_DOCS), extra)))
        k = len(PASS_FORMATS) + 1
        self.upsert_at = len(PASS_FORMATS) // 2
        # half the upsert's keys are rows of the set-up upload
        stored = self.rng.choice(self.setup_upload.doc_ids, UPSERT_DOCS // 2,
                                 replace=False)
        old = self.docs[self.docs["doc_id"].astype(str).isin(stored)]
        self.upsert_upload = _write_upload(
            up / "upsert.csv", "csv",
            pd.concat([batch(0, old), batch(k, sample(UPSERT_DOCS - len(old)))],
                      ignore_index=True))
        drift = sample(DRIFT_DOCS)
        self.drift_csv = _write_upload(up / "drift.csv", "csv",
                                       batch(k + 1, drift))
        self.drift_json = _write_upload(up / "drift.json", "json",
                                        batch(k + 1, drift), numeric_ids=True)
        events = datagen.load(SF, "events")
        chunks, stream_facts = _stream_chunks(self.rng, events)
        self.feed = work / "feed"
        self.feed.mkdir()
        last_ts = events.column("ts")[-1].as_py()
        chunks[-1] = pa.concat_tables([chunks[-1],
                                       _sentinel(chunks[-1].schema, last_ts)])
        for i, t in enumerate(chunks):
            pq.write_table(t, self.feed / f"chunk-{i:03d}.parquet")
        real = pa.concat_tables(chunks[:-1] + [chunks[-1].slice(0, chunks[-1].num_rows - 1)])
        self.n_real_events = real.num_rows
        self.stream_want = _running_totals(real)
        self.facts = {
            "sf": SF, "fixture_docs": len(self.docs), "batch_docs": BATCH_DOCS,
            "pass_formats": PASS_FORMATS, "added_columns": ADDED_COLUMNS,
            "missing_lang_share": MISSING_LANG_SHARE,
            "upsert_at": self.upsert_at, "upsert_docs": UPSERT_DOCS,
            "drift_docs": DRIFT_DOCS, "stream": stream_facts,
        }
        self.stats = {"issue_rows": 0, "rewritten": 0}
        self._probed: set[str] = set()
        self._shadow = None

    # -- set-up -------------------------------------------------------
    def catalog(self, spark):
        from dynamic_etl_pipeline_spark.pipeline import EtlPipeline

        self.spark = spark
        self.pipe = EtlPipeline(spark, self.store)
        self.feed_schema = spark.read.parquet(str(self.feed)).schema

    def warm_op(self, h) -> None:
        self._ingest(h, self.setup_upload, "setup")

    # -- ops ----------------------------------------------------------
    def _ingest(self, h, up: Upload, group: str = "pipeline.ingest") -> None:
        kw = {"inferSchema": False} if up.fmt == "csv" else {}

        def check(rep):
            if rep.n_records != up.n_records or rep.n_with_issues != up.n_issues:
                return (f"{up.fmt} report {rep.n_records}/{rep.n_with_issues} "
                        f"!= {up.n_records}/{up.n_issues}")
            return None

        rep = h.call(f"ingest.{up.fmt}", group,
                     lambda: self.pipe.ingest(up.path, **kw), check=check,
                     items=up.n_records)
        if rep is not None:
            self.stats["issue_rows"] += rep.n_with_issues

    def _browse(self, h, known_defect: str | None = None,
                name: str = "records") -> None:
        def check(pdf):
            return None if len(pdf) == 50 else f"{len(pdf)} rows != 50"

        h.call(name, "pipeline.browse",
               lambda: self.pipe.records(latest_n=50).toPandas(),
               check=check, known_defect=known_defect)

    def _migrate(self, h, known_defect: str | None = None) -> None:
        want = expected_rewrites(self.pipe.records_path)

        def check(n):
            return None if n == want else f"rewrote {n} partitions, expected {want}"

        n = h.call("migrate", "pipeline.migrate", self.pipe.migrate,
                   check=check, known_defect=known_defect)
        if n is not None:
            self.stats["rewritten"] += n

    def _drain(self, h) -> None:
        from dynamic_etl_pipeline_spark.streaming.sinks import (
            run_available_now_to_memory)
        from dynamic_etl_pipeline_spark.streaming.source import stream_events_dir
        from dynamic_etl_pipeline_spark.streaming.stateful import user_running_totals

        def run():
            src = stream_events_dir(self.spark, str(self.feed), self.feed_schema)
            return run_available_now_to_memory(
                user_running_totals(src), output_mode="update",
                timeout_s=50).toPandas()

        h.call("drain.running_totals", "streaming.running_totals", run,
               check=self._check_stream, expand=self._triggers)

    def _triggers(self, op, progress: list[dict]) -> list:
        """One op per micro-batch trigger, timed by Spark's own
        ``triggerExecution``; items are real events (the sentinel row
        rides in the last chunk)."""
        from harness import Op

        last = len(list(self.feed.glob("chunk-*.parquet"))) - 1
        return [
            Op(name=f"{op.name}#{p['batchId']}", group=op.group,
               wall_s=p["durationMs"].get("triggerExecution", 0) / 1e3,
               ok=True, timed=op.timed,
               items=p["numInputRows"] - (p["batchId"] == last),
               progress=p)
            for p in progress
        ]

    def _check_stream(self, got: pd.DataFrame) -> str | None:
        import oracle

        # update mode appends one row per user per trigger; the last
        # emission carries the largest running count
        got = got[got["user_id"] != SENTINEL_USER]
        got = got.sort_values("n_events").groupby("user_id").tail(1)
        return oracle.mismatch(got.reset_index(drop=True), self.stream_want)

    def run_pass(self, h) -> None:
        for i, up in enumerate(self.uploads):
            if i == self.upsert_at:
                self._upsert(h)
            self._ingest(h, up)
            self._probe_layers(h, up)
            self._browse(h)
        self._migrate(h)
        self._drain(h)

    def _upsert(self, h) -> None:
        up = self.upsert_upload

        def check(rep):
            if rep.n_records != up.n_records or rep.n_with_issues != up.n_issues:
                return (f"upsert report {rep.n_records}/{rep.n_with_issues} "
                        f"!= {up.n_records}/{up.n_issues}")
            return None

        h.call("upsert", "pipeline.upsert",
               lambda: self.pipe.upsert(up.path, keys=["doc_id"], inferSchema=False),
               check=check, items=up.n_records)

    def finish(self, h) -> None:
        """The drift episode (see the module docstring)."""
        self._ingest(h, self.drift_csv, "drift")
        self._ingest(h, self.drift_json, "drift")
        self._browse(h, known_defect=RECORDS_DEFECT, name="drift.records")
        self._migrate(h, known_defect=MIGRATE_DEFECT)
        self._browse(h, known_defect=RECORDS_DEFECT, name="drift.records")

    # -- traced runs only ---------------------------------------------
    def _probe_layers(self, h, up: Upload) -> None:
        """Time each layer's public function on its own, once per format:
        the reader to a noop sink, pattern extraction, validation, and
        schema registration on a shadow registry fed the same upload
        schemas in the same order."""
        if not h.tracer.enabled or up.fmt in self._probed:
            return
        from dynamic_etl_pipeline_spark.functions.extract import extract_patterns
        from dynamic_etl_pipeline_spark.ingest import read_any
        from dynamic_etl_pipeline_spark.quality import validate
        from dynamic_etl_pipeline_spark.schema_registry import SchemaRegistry

        self._probed.add(up.fmt)
        kw = {"inferSchema": False} if up.fmt == "csv" else {}

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        timed, h.timed = h.timed, False
        try:
            h.call(f"read_any.{up.fmt}", f"readers.{up.fmt}",
                   lambda: noop(read_any(self.spark, up.path, **kw)))
            df = read_any(self.spark, up.path, **kw)
            if "content" in df.columns:
                h.call("extract_patterns", "extract.patterns",
                       lambda: noop(df.withColumn("_p", extract_patterns("content"))))
            h.call("validate", "quality.validate",
                   lambda: noop(validate(df, df.schema)))
            if self._shadow is None:
                self._shadow = SchemaRegistry(self.spark, str(self.work / "shadow_registry"))
            h.call("register", "schema_registry.register",
                   lambda: self._shadow.register_df(df))
        finally:
            h.timed = timed

    def layer_facts(self) -> dict:
        from dynamic_etl_pipeline_spark.schema_registry import SchemaRegistry

        latest = SchemaRegistry(self.spark, self.store).latest()
        files = len(list(Path(self.pipe.records_path).rglob("*.parquet")))
        return {"versions": latest[0] if latest else 0, "store_files": files,
                **self.stats}
