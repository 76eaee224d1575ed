"""Per-layer tracing for the benchmark's traced run.

``TracedSeqFileDataSource`` (format ``hadoop_seq_traced``) is the
program's ``hadoop_seq`` source with spans recorded around the calls
into each layer.  Inside a Python worker, for the duration of one
task, it wraps the module functions the format layer calls:

* ``seqfile.datasource`` — ``SeqFileReader.partitions`` / ``read`` and
  ``SeqFileWriter.write`` (the time a yielded batch spends with Spark
  before the generator resumes is the Arrow hand-off to the JVM; on the
  write side, the time the task waits for its next batch);
* ``seqfile.core`` — ``iter_blocks``, ``iter_block_counts`` and the
  ``SeqFileWriter`` class, plus counters around its block helpers
  (compressed bytes read, decompressed bytes per column);
* ``seqfile.snappy`` — ``decompress`` / ``compress``;
* ``seqfile.varint`` — ``decode_vint_array`` / ``encode_vint_array`` as
  ``core`` imported them.

Spans carry the op id passed as the ``trace_op`` option, live in memory
and are appended to ``<trace_dir>/spans-<pid>.jsonl`` when a split or
write task yields or ends.  ``load_spans`` merges the files of all
processes, ``layer_totals`` sums one op's spans per layer, ``combine``
derives the ratios, and ``spark_profile`` reads Spark's own event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from hadoop_formats_spark.seqfile import core, snappy
from hadoop_formats_spark.seqfile.datasource import (
    SeqFileDataSource,
    SeqFileReader,
    SeqFileWriter,
)

FORMAT = "hadoop_seq_traced"


class Recorder:
    """Spans of one task: ``(name, t0, t1, parent, attrs)`` with ids
    local to the recorder; ``flush`` appends the finished ones."""

    def __init__(self, trace_dir: str, op: str):
        self.path = os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl")
        self.op = op
        self.spans: list[dict] = []  # not yet written
        self.stack: list[dict] = []  # open, innermost last
        self.opened = 0

    def open(self, name: str, **attrs) -> dict:
        span = {
            "op": self.op,
            "id": f"{os.getpid()}.{id(self)}.{self.opened}",
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "t0": time.time(),
            **attrs,
        }
        self.opened += 1
        self.spans.append(span)
        self.stack.append(span)
        return span

    def close(self, span: dict, **attrs) -> None:
        span["t1"] = time.time()
        span.update(attrs)
        self.stack.remove(span)

    def add(self, key: str, n: float) -> None:
        """Count ``n`` into the innermost open span."""
        if self.stack:
            top = self.stack[-1]
            top[key] = top.get(key, 0) + n

    def flush(self) -> None:
        """Append the closed spans; open ones wait for a later flush."""
        done = [s for s in self.spans if "t1" in s]
        if not done:
            return
        with open(self.path, "a") as f:
            f.writelines(json.dumps(s) + "\n" for s in done)
        self.spans = [s for s in self.spans if "t1" not in s]


class _Patches:
    """Module-function wrappers, installed for one task at a time (a
    Python worker runs one task at a time)."""

    def __init__(self, rec: Recorder):
        self.rec = rec
        self.saved: list[tuple[object, str, object]] = []

    def _swap(self, mod, name: str, new) -> None:
        self.saved.append((mod, name, getattr(mod, name)))
        setattr(mod, name, new)

    def _timed(self, name: str, fn, count):
        rec = self.rec

        def wrapped(*args, **kw):
            span, out = rec.open(name), None
            try:
                out = fn(*args, **kw)
                return out
            finally:
                rec.close(span, **count(args, out))

        return wrapped

    def install(self) -> None:
        rec = self.rec

        def nbytes(args, out):
            return {"in_bytes": len(args[0]), "out_bytes": len(out or b"")}

        self._swap(snappy, "decompress", self._timed("snappy.decompress", snappy.decompress, nbytes))
        self._swap(snappy, "compress", self._timed("snappy.compress", snappy.compress, nbytes))
        self._swap(core, "decode_vint_array", self._timed(
            "varint.decode", core.decode_vint_array, lambda args, out: {"values": int(args[1])}
        ))
        self._swap(core, "encode_vint_array", self._timed(
            "varint.encode", core.encode_vint_array, lambda args, out: {"values": len(args[0])}
        ))

        # counters inside one block decode: compressed bytes read and
        # decompressed bytes per column (for the useful-bytes ratio)
        read_raw, decode_raw, decode_column = (
            core._read_raw_block, core._decode_raw, core._decode_column
        )
        columns: list[str] = []

        def read_raw_block(f, header):
            raw = read_raw(f, header)
            if raw is not None:
                rec.add("bytes_read", sum(len(s) for s in raw.sections))
            return raw

        def decode_raw_block(raw, header, *, want_keys=True, want_values=True):
            columns[:] = (["key"] if want_keys else []) + (["value"] if want_values else [])
            return decode_raw(raw, header, want_keys=want_keys, want_values=want_values)

        def decode_col(java_class, lengths_buf, data_buf, count):
            col = columns.pop(0) if columns else "other"
            rec.add(f"decoded_{col}_bytes", len(lengths_buf) + len(data_buf))
            return decode_column(java_class, lengths_buf, data_buf, count)

        self._swap(core, "_read_raw_block", read_raw_block)
        self._swap(core, "_decode_raw", decode_raw_block)
        self._swap(core, "_decode_column", decode_col)

        iter_blocks, iter_block_counts = core.iter_blocks, core.iter_block_counts

        def traced_iter_blocks(*args, **kw):
            it = iter_blocks(*args, **kw)
            while True:
                span = rec.open("core.iter_blocks")
                try:
                    block = next(it)
                except StopIteration:
                    rec.close(span, blocks=0, records=0)
                    return
                except BaseException:
                    rec.close(span)
                    raise
                out = sum(a.nbytes for a in (block.keys, block.values) if a is not None)
                rec.close(span, blocks=1, records=block.count, bytes_decoded=out)
                yield block

        def traced_iter_block_counts(*args, **kw):
            span, counts = rec.open("core.count"), []
            try:
                counts = list(iter_block_counts(*args, **kw))
            finally:
                rec.close(span, blocks=len(counts), records=sum(counts))
            yield from counts

        base_writer = core.SeqFileWriter

        class TracedWriter(base_writer):
            def write_batch(self, keys, values):
                span = rec.open("core.encode", records=len(keys))
                try:
                    super().write_batch(keys, values)
                finally:
                    rec.close(span)

            def close(self):
                span = rec.open("core.encode")
                try:
                    super().close()
                finally:
                    rec.close(span, bytes_written=os.path.getsize(self.path))

        self._swap(core, "iter_blocks", traced_iter_blocks)
        self._swap(core, "iter_block_counts", traced_iter_block_counts)
        self._swap(core, "SeqFileWriter", TracedWriter)

    def uninstall(self) -> None:
        while self.saved:
            mod, name, orig = self.saved.pop()
            setattr(mod, name, orig)


class TracedSeqFileReader(SeqFileReader):
    def __init__(self, source, schema):
        super().__init__(source, schema)
        self.trace_dir = source.options["trace_dir"]
        self.op = source.options["trace_op"]
        self.uses = source.options.get("trace_uses", "")

    def partitions(self):
        rec = Recorder(self.trace_dir, self.op)
        span, splits = rec.open("datasource.partitions"), []
        try:
            splits = super().partitions()
            return splits
        finally:
            rec.close(span, splits=len(splits))
            rec.flush()

    def read(self, split):
        """Each batch is a ``datasource.next`` span (time inside the
        program's ``read``) followed by a ``datasource.handoff`` span
        (until Spark asks for the next batch), so a split Spark stops
        early (``limit``) still leaves every finished span behind."""
        rec = Recorder(self.trace_dir, self.op)
        patches = _Patches(rec)
        patches.install()
        split_id = f"{os.getpid()}.{time.time_ns()}"
        it = super().read(split)
        try:
            while True:
                span = rec.open("datasource.next", split=split_id, uses=self.uses, rows=0)
                try:
                    batch = next(it)
                except StopIteration:
                    return
                finally:
                    rec.close(span)
                span["rows"] = batch.num_rows
                rec.flush()
                span = rec.open("datasource.handoff", split=split_id)
                try:
                    yield batch
                finally:
                    rec.close(span)
        finally:
            patches.uninstall()
            rec.flush()


class TracedSeqFileWriter(SeqFileWriter):
    def __init__(self, options, schema, overwrite):
        super().__init__(options, schema, overwrite)
        self.trace_dir = options["trace_dir"]
        self.op = options["trace_op"]

    def write(self, iterator):
        rec = Recorder(self.trace_dir, self.op)
        patches = _Patches(rec)
        patches.install()
        span = rec.open("datasource.write", handoff_s=0.0)

        def timed_batches():
            it = iter(iterator)
            while True:
                t0 = time.time()
                try:
                    batch = next(it)
                except StopIteration:
                    return
                finally:
                    span["handoff_s"] += time.time() - t0
                yield batch

        try:
            return super().write(timed_batches())
        finally:
            rec.close(span)
            patches.uninstall()
            rec.flush()


class TracedSeqFileDataSource(SeqFileDataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT

    def reader(self, schema):
        return TracedSeqFileReader(self, schema)

    def writer(self, schema, overwrite):
        return TracedSeqFileWriter(self.options, schema, overwrite)


# --------------------------------------------------------------------------
# merging


def load_spans(trace_dir: str) -> list[dict]:
    spans = []
    for path in glob.glob(os.path.join(trace_dir, "spans-*.jsonl")):
        with open(path) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def layer_totals(spans: list[dict]) -> dict:
    """Additive per-layer sums of one op's spans (``combine`` adds
    several ops' and derives the ratios)."""
    by_name: dict[str, list[dict]] = defaultdict(list)
    child_s: dict[str, float] = defaultdict(float)
    for s in spans:
        by_name[s["name"]].append(s)
        if s["parent"] is not None:
            child_s[s["parent"]] += _dur(s)

    def total(name, key=None):
        return sum((s.get(key, 0) if key else _dur(s)) for s in by_name[name])

    def self_s(name):
        return sum(_dur(s) - child_s[s["id"]] for s in by_name[name])

    nexts = by_name["datasource.next"]
    uses = set(nexts[0]["uses"].split(",")) if nexts else set()
    splits: dict[str, list[float]] = defaultdict(list)
    for s in nexts + by_name["datasource.handoff"]:
        splits[s["split"]] += [s["t0"], s["t1"]]
    decoded = {c: total("core.iter_blocks", f"decoded_{c}_bytes") for c in ("key", "value")}
    return {
        "snappy.decompress_calls": len(by_name["snappy.decompress"]),
        "snappy.decompress_s": total("snappy.decompress"),
        "snappy.decompress_out_bytes": total("snappy.decompress", "out_bytes"),
        "snappy.compress_calls": len(by_name["snappy.compress"]),
        "snappy.compress_s": total("snappy.compress"),
        "snappy.compress_in_bytes": total("snappy.compress", "in_bytes"),
        "snappy.compress_out_bytes": total("snappy.compress", "out_bytes"),
        "codec.decoded_bytes": sum(decoded.values()),
        "codec.useful_bytes": sum(v for c, v in decoded.items() if c in uses),
        "varint.decode_s": total("varint.decode"),
        "varint.decode_values": total("varint.decode", "values"),
        "varint.encode_s": total("varint.encode"),
        "core.blocks": total("core.iter_blocks", "blocks") + total("core.count", "blocks"),
        "core.records": total("core.iter_blocks", "records") + total("core.count", "records"),
        "core.bytes_read": total("core.iter_blocks", "bytes_read"),
        "core.bytes_decoded": total("core.iter_blocks", "bytes_decoded"),
        "core.decode_self_s": self_s("core.iter_blocks"),
        "core.count_s": total("core.count"),
        "core.encode_self_s": self_s("core.encode"),
        "core.bytes_written": total("core.encode", "bytes_written"),
        "datasource.partitions_s": total("datasource.partitions"),
        "datasource.splits": total("datasource.partitions", "splits"),
        "datasource.split_walls": sorted(max(ts) - min(ts) for ts in splits.values()),
        "datasource.read_s": total("datasource.next"),
        "datasource.batches": sum(1 for s in nexts if s["rows"]),
        "datasource.rows_out": total("datasource.next", "rows"),
        "datasource.handoff_s": total("datasource.handoff"),
        "datasource.write_s": total("datasource.write"),
        "datasource.write_handoff_s": total("datasource.write", "handoff_s"),
        "datasource.write_tasks": len(by_name["datasource.write"]),
    }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def combine(ops: list[dict]) -> dict:
    """Sum the ops' ``layer_totals`` and derive the ratio metrics.  The
    split skew is the slowest ÷ median split of the op that spent the
    most time reading (the scan whose stage time the skew sets)."""
    out: dict = defaultdict(float)
    for raw in ops:
        for k, v in raw.items():
            if k != "datasource.split_walls":
                out[k] += v
    walls = max(ops, key=lambda r: r["datasource.read_s"])["datasource.split_walls"] if ops else []
    out["datasource.split_skew"] = _ratio(walls[-1], statistics.median(walls)) if walls else 0.0
    out["snappy.decompress_mb_per_s"] = _ratio(out["snappy.decompress_out_bytes"] / 1e6,
                                               out["snappy.decompress_s"])
    out["snappy.decompress_share"] = _ratio(out["snappy.decompress_s"], out["datasource.read_s"])
    out["snappy.compress_ratio"] = _ratio(out["snappy.compress_in_bytes"],
                                          out["snappy.compress_out_bytes"])
    out["codec.useful_ratio"] = _ratio(out["codec.useful_bytes"], out["codec.decoded_bytes"])
    return dict(out)


# --------------------------------------------------------------------------
# Spark event log


def _event_lines(log_dir: str):
    import pyarrow as pa

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        compression = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=compression) as f:
            for line in f.read().decode().splitlines():
                if line.strip():
                    yield json.loads(line)


def spark_profile(log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Jobs, stages, tasks and task metrics per op from Spark's event
    log.  Ops run one at a time, so a job belongs to the op whose
    wall-clock window (epoch seconds) holds its submission, and a task
    to the op whose window holds its launch."""
    jobs: dict[int, list[float]] = {}
    tasks: list[tuple[float, int, dict]] = []  # (launch, stage, metrics)
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].append(ev["Completion Time"] / 1000)
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Task Info"]["Launch Time"] / 1000, ev["Stage ID"],
                          ev.get("Task Metrics") or {}))
    out = {}
    for op, (w0, w1) in windows.items():
        mine = sorted(j for j in jobs.values() if w0 <= j[0] <= w1)
        ran = [(sid, m) for t, sid, m in tasks if w0 <= t <= w1]
        metrics = [m for _, m in ran]
        # driver share: op wall time not covered by any of its jobs
        covered, edge = 0.0, w0
        for j in mine:
            start, end = max(j[0], edge), min(j[-1] if len(j) > 1 else w1, w1)
            if end > start:
                covered += end - start
                edge = end
        out[op] = {
            "spark.jobs": len(mine),
            "spark.stages": len({sid for sid, _ in ran}),
            "spark.tasks": len(metrics),
            "spark.executor_run_ms": sum(m.get("Executor Run Time", 0) for m in metrics),
            "spark.executor_cpu_ms": sum(m.get("Executor CPU Time", 0) for m in metrics) / 1e6,
            "spark.gc_ms": sum(m.get("JVM GC Time", 0) for m in metrics),
            "spark.shuffle_write_bytes": sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for m in metrics
            ),
            "spark.driver_share": 1 - covered / (w1 - w0) if w1 > w0 else 0.0,
        }
    return out
