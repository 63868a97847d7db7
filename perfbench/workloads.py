"""The three workloads: what each runs, warms, times and verifies.

Every workload is a closed loop with one client: the next op starts
when the previous one has finished. Each runs a fixed amount of work
sized from ``--seconds`` (so two commits always time the same work)
in an order the seed decides.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, verify
from perfbench.spans import Tracer
from perfbench.stats import median

#: The reference's read path, hottest first: Zipf rank 1 is the
#: dashboard's flagship stats read.
SERVE_MIX = [
    "flagship_player_stats",
    "h_pricing_summary",
    "h_shipping_priority",
    "j1_broadcast_dim_lookup",
    "j3_anti_orphans",
    "j4_semi_user_matches",
    "j5_ingest_dedup",
    "j6_lookup_with_default",
    "w1_retention_trim",
    "w2_recent_slice",
    "a2_grouped_rollup",
    "a8_keep_first_dedup",
    "o1_topk_orders",
    "p3_ci_name_lookup",
]

#: Heavy LLM-data operators, one per mechanism: MinHash-LSH dedup
#: (the staged signature fixture, band join), SimHash pairs (pair-join
#: shuffle) and BPE tokens (Arrow UDF workers).
LLM_CURATE = [
    "d_minhash_lsh",
    "d_simhash_pairs",
    "t_bpe_tokens",
]

#: Work per second of ``--seconds``, calibrated on a quiet 4-core host
#: so a run's timed part lasts about ``--seconds`` there. At 16 s both
#: listed workloads time 22 or more ops, so the ``op_tail_s`` sample lies
#: above the median one.
SERVE_OPS_PER_S = 1.0
LLM_S_PER_ROUND = 2.0
EVENT_BATCHES_PER_S = 1.125
DOC_BATCHES_PER_S = 0.125
EVENT_BATCH_ROWS = 5_000
DOC_BATCH_ROWS = 625

ORDER_KEYS = ["o_orderkey"]
ORDER_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


@dataclass
class Sample:
    """One timed op."""

    op_id: str
    kind: str
    latency: float
    start: float  # wall clock, for matching event-log jobs
    build: float = 0.0
    exec: float = 0.0
    error: str | None = None


@dataclass
class Pass:
    """What one pass (session + warm pass + timed sequence) measured."""

    samples: list[Sample] = field(default_factory=list)
    warm_s: float = 0.0
    wall_s: float = 0.0
    input_rows: int = 0
    bad: dict[str, str] = field(default_factory=dict)  # kind -> why it failed
    layer: dict[str, float] = field(default_factory=dict)
    windows: dict[str, tuple[float, float]] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    sf_dir: Path
    work: Path
    tracer: Tracer
    oracle: verify.OracleCache
    seed: int
    seconds: int


def _collect(df) -> list[tuple]:
    """All rows through Arrow (far faster than ``collect`` for large
    results), as the naive-UTC Python values DuckDB's ``fetchall``
    gives, so the oracle hash applies unchanged."""
    table = df.toArrow()
    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col.to_pylist())
    return list(zip(*cols))


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _job_group(spark, op_id: str | None) -> None:
    if op_id is None:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    else:
        spark.sparkContext.setJobGroup(op_id, op_id)


def _file_rows(uri: str) -> int:
    return pq.ParquetFile(uri.removeprefix("file://")).metadata.num_rows


class QueryWorkload:
    """Registry queries forced with the noop sink, one after another."""

    def __init__(self, name: str, names: list[str], zipf: bool) -> None:
        self.name = name
        self.names = names
        self.zipf = zipf

    def sequence(self, seed: int, seconds: int) -> list[str]:
        if self.zipf:
            return gen.zipf_sequence(self.names, max(2, round(SERVE_OPS_PER_S * seconds)), seed)
        return gen.permutations(self.names, max(1, round(seconds / LLM_S_PER_ROUND)), seed)

    def specs(self) -> dict:
        from baronbatch_etl_spark.queries import load_all

        reg = load_all()
        return {n: reg[n] for n in self.names}

    def prepare(self, ctx: Ctx) -> None:
        """Nothing to stage: the queries read the base tables."""

    def warm(self, ctx: Ctx, out: Pass) -> None:
        """Run each distinct op once, collecting its result, and verify it.
        Only the op itself counts toward set-up time."""
        self._rows: dict[str, int] = {}
        for name, spec in self.specs().items():
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("warm", op=f"warm-{name}"):
                    df = spec.fn(ctx.spark, str(ctx.sf_dir))
                    rows = _collect(df)
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                out.warm_s += time.perf_counter() - t0
                out.bad[name] = f"warm pass raised {type(e).__name__}: {e}"
                continue
            out.warm_s += time.perf_counter() - t0
            why = ctx.oracle.check(name, spec.oracle, df.columns, rows)
            if why:
                out.bad[name] = why
            self._rows[name] = sum(_file_rows(f) for f in df.inputFiles())

    def timed(self, ctx: Ctx, out: Pass) -> None:
        specs = self.specs()
        seq = self.sequence(ctx.seed, ctx.seconds)
        t_start = time.perf_counter()
        for i, kind in enumerate(seq):
            op_id = f"{i:04d}-{kind}"
            _job_group(ctx.spark, op_id)
            s = Sample(op_id, kind, 0.0, time.time())
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("op", op=op_id):
                    with ctx.tracer.span("queries.build"):
                        df = specs[kind].fn(ctx.spark, str(ctx.sf_dir))
                    t1 = time.perf_counter()
                    with ctx.tracer.span("queries.exec"):
                        _noop(df)
                    t2 = time.perf_counter()
                s.build, s.exec = t1 - t0, t2 - t1
            except Exception as e:  # noqa: BLE001
                s.error = f"{type(e).__name__}: {e}"
            s.latency = time.perf_counter() - t0
            out.windows[op_id] = (s.start, s.start + s.latency)
            out.samples.append(s)
        _job_group(ctx.spark, None)
        out.wall_s = time.perf_counter() - t_start
        out.input_rows = sum(self._rows.get(s.kind, 0) for s in out.samples)
        build = sum(s.build for s in out.samples)
        exe = sum(s.exec for s in out.samples)
        out.layer.update(
            {
                "queries.build_s": build,
                "queries.exec_s": exe,
                "queries.build_share": build / (build + exe) if build + exe else 0.0,
            }
        )

    def verify(self, ctx: Ctx, out: Pass) -> None:
        """Verified in the warm pass already."""


def _progress_samples(query, kind: str, tracer: Tracer, parent) -> list[tuple[Sample, float]]:
    """One sample per non-empty micro-batch, from ``recentProgress``:
    latency is ``triggerExecution``; the second item is ``addBatch``."""
    out = []
    for p in query.recentProgress:
        if not p.get("numInputRows"):
            continue
        dur = p.get("durationMs") or {}
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        trig = dur.get("triggerExecution", 0) / 1000.0
        op_id = f"{kind}-{p['batchId']}"
        tracer.add("streaming.batch", start, start + trig, parent, op_id)
        out.append((Sample(op_id, kind, trig, start), dur.get("addBatch", 0) / 1000.0))
    return out


def _data_files(root: Path) -> list[Path]:
    return [p for p in root.rglob("*.parquet") if p.is_file()]


class StreamWorkload:
    """The write path: micro-batch gold maintenance, near-duplicate
    admission with a growing key store, and a snapshot CDC round."""

    name = "stream_ingest"

    def specs(self) -> dict:
        """No registry queries."""
        return {}

    def prepare(self, ctx: Ctx) -> None:
        """Cut the seeded micro-batch files and the next orders dump (timed
        and warm-up copies) from the base tables."""
        self.inputs: dict[str, dict] = {}
        events = pq.read_table(ctx.sf_dir / "events.parquet")
        docs = pq.read_table(ctx.sf_dir / "documents.parquet", columns=["doc_id", "text"])
        orders = pq.read_table(ctx.sf_dir / "orders.parquet")
        n_ev = min(
            events.num_rows // EVENT_BATCH_ROWS, max(2, round(EVENT_BATCHES_PER_S * ctx.seconds))
        )
        n_doc = min(docs.num_rows // DOC_BATCH_ROWS, max(2, round(DOC_BATCHES_PER_S * ctx.seconds)))
        for phase, ev_shape, doc_shape, snap in (
            ("warm", (4, EVENT_BATCH_ROWS), (2, 50), orders.slice(0, 5_000)),
            ("timed", (n_ev, EVENT_BATCH_ROWS), (n_doc, DOC_BATCH_ROWS), orders),
        ):
            d = ctx.work / "inputs" / phase
            gen.split_files(events, d / "events", *ev_shape, ctx.seed, 10)
            gen.split_files(docs, d / "docs", *doc_shape, ctx.seed, 11)
            new, _ = gen.perturb_orders(snap, ctx.seed)
            for name, table in (("old", snap), ("new", new)):
                (d / name).mkdir(parents=True)
                pq.write_table(table, d / name / "orders.parquet")
            self.inputs[phase] = {
                "dir": d,
                "rows": ev_shape[0] * ev_shape[1] + doc_shape[0] * doc_shape[1] + new.num_rows,
                "docs": doc_shape[0] * doc_shape[1],
            }

    def _round(self, ctx: Ctx, phase: str, out: Pass | None) -> list[Sample]:
        """One full round over ``inputs[phase]`` into ``work/out/phase``.
        Returns the samples; fills per-layer figures into ``out``."""
        from baronbatch_etl_spark import io as bio
        from baronbatch_etl_spark.pipeline.medallion import apply_changelog, snapshot_diff
        from baronbatch_etl_spark.sources.writers import write_partitioned
        from baronbatch_etl_spark.streaming import ops

        spark, tr = ctx.spark, ctx.tracer
        src = self.inputs[phase]["dir"]
        dst = ctx.work / "out" / phase
        samples: list[Sample] = []
        add_batch: list[float] = []

        for kind, make in (
            (
                "incremental_gold",
                lambda: ops.incremental_gold(
                    ops.stream_events(spark, str(src / "events"), glob="*.parquet"),
                    str(dst / "gold"),
                    query_name=f"gold_{phase}",
                ),
            ),
            (
                "neardup_ingest",
                lambda: ops.neardup_ingest(
                    ops.stream_documents(spark, str(src / "docs")),
                    str(dst / "store"),
                    str(dst / "accepted"),
                    query_name=f"neardup_{phase}",
                ),
            ),
        ):
            with tr.span("streaming.query", op=kind) as sp:
                try:
                    q = make().option("checkpointLocation", str(dst / f"ck_{kind}")).start()
                    q.awaitTermination()
                except Exception as e:  # noqa: BLE001 - a failed stream fails its op
                    samples.append(Sample(kind, kind, time.time() - sp.start, sp.start, error=f"{type(e).__name__}: {e}"))
                    continue
            for s, add in _progress_samples(q, kind, tr, sp):
                samples.append(s)
                add_batch.append(add)
            if kind == "incremental_gold":
                s = self._timed_op(ctx, "read_gold", lambda: _noop(ops.read_gold(spark, str(dst / "gold"))))
                samples.append(s)

        old = bio.load_table(spark, str(src / "old"), "orders")
        new = bio.load_table(spark, str(src / "new"), "orders")
        changelog = dst / "changelog"

        def diff() -> None:
            with tr.span("pipeline.diff"):
                cl = snapshot_diff(old, new, ORDER_KEYS, ORDER_COLS)
            with tr.span("sources.write"):
                cl.write.mode("overwrite").parquet(str(changelog))

        def apply() -> None:
            with tr.span("pipeline.apply"):
                nxt = apply_changelog(old, spark.read.parquet(str(changelog)), ORDER_KEYS, ORDER_COLS)
            with tr.span("sources.write"):
                write_partitioned(nxt, str(dst / "rebuilt"), ["o_orderstatus"])

        s_diff = self._timed_op(ctx, "snapshot_diff", diff)
        s_apply = self._timed_op(ctx, "apply_changelog", apply)
        samples += [s_diff, s_apply]
        if out is not None:
            trig = [s.latency for s in samples if s.kind in ("incremental_gold", "neardup_ingest")]
            out.layer.update(
                {
                    "streaming.batch_s": median(trig),
                    "streaming.add_batch_s": median(add_batch),
                    "streaming.overhead_s": median(t - a for t, a in zip(trig, add_batch)),
                    "streaming.batches": float(len(trig)),
                    "pipeline.diff_s": s_diff.latency,
                    "pipeline.apply_s": s_apply.latency,
                }
            )
        return samples

    def _timed_op(self, ctx: Ctx, kind: str, fn) -> Sample:
        s = Sample(kind, kind, 0.0, time.time())
        _job_group(ctx.spark, kind)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op", op=kind):
                fn()
        except Exception as e:  # noqa: BLE001
            s.error = f"{type(e).__name__}: {e}"
        s.latency = time.perf_counter() - t0
        _job_group(ctx.spark, None)
        return s

    def warm(self, ctx: Ctx, out: Pass) -> None:
        t0 = time.perf_counter()
        with ctx.tracer.span("warm", op="warm-stream"):
            samples = self._round(ctx, "warm", None)
        out.warm_s += time.perf_counter() - t0
        for s in samples:
            if s.error:
                out.bad[s.kind] = f"warm pass raised {s.error}"

    def timed(self, ctx: Ctx, out: Pass) -> None:
        t0 = time.perf_counter()
        out.samples = self._round(ctx, "timed", out)
        out.wall_s = time.perf_counter() - t0
        out.input_rows = self.inputs["timed"]["rows"]
        for s in out.samples:
            out.windows[s.op_id] = (s.start, s.start + s.latency)

    def verify(self, ctx: Ctx, out: Pass) -> None:
        from baronbatch_etl_spark.streaming import ops

        src = self.inputs["timed"]["dir"]
        dst = ctx.work / "out" / "timed"
        checks = (
            (
                ("incremental_gold", "read_gold"),
                lambda: verify.check_gold(
                    _collect(ops.read_gold(ctx.spark, str(dst / "gold"))), str(src / "events" / "*.parquet")
                ),
            ),
            (
                ("neardup_ingest",),
                lambda: verify.check_admission(
                    str(dst / "store" / "*" / "*.parquet"), str(dst / "accepted" / "*" / "*.parquet")
                ),
            ),
            (
                ("snapshot_diff", "apply_changelog"),
                lambda: verify.check_snapshot(
                    str(dst / "rebuilt" / "*" / "*.parquet"), src / "new" / "orders.parquet"
                ),
            ),
        )
        for kinds, check in checks:
            try:
                why = check()
            except Exception as e:  # noqa: BLE001 - missing or unreadable output fails its ops
                why = f"check raised {type(e).__name__}: {e}"
            for kind in kinds if why else ():
                out.bad[kind] = why
        store_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in _data_files(dst / "store"))
        accepted = sum(pq.ParquetFile(p).metadata.num_rows for p in _data_files(dst / "accepted"))
        written = _data_files(dst)
        in_bytes = sum(p.stat().st_size for p in src.rglob("*.parquet"))
        out.layer.update(
            {
                "streaming.store_rows": float(store_rows),
                "streaming.admit_ratio": accepted / self.inputs["timed"]["docs"],
                "sources.write_amp": sum(p.stat().st_size for p in written) / in_bytes,
                "sources.files_written": float(len(written)),
            }
        )


WORKLOADS = {
    "serve_mix": lambda: QueryWorkload("serve_mix", SERVE_MIX, zipf=True),
    "llm_curate": lambda: QueryWorkload("llm_curate", LLM_CURATE, zipf=False),
    "stream_ingest": StreamWorkload,
}
