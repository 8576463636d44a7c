"""The benchmark's workloads, closed-loop with one client thread.

Each workload builds its inputs from the seed, then repeats rounds until the
measuring time is spent, checking every op's output outside the timed
windows. stream_mixed runs one untimed warm-up cycle first; impute_pass times
the session's first pass. The first op of each kind is its cold sample.
"""

from __future__ import annotations

import contextlib
import datetime
import math
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

from engine import (layout, maintain, merge, scan as scan_mod, streaming,
                    synth, write)
from engine.format import Table

# ≈ 150k turns (impute_pass) and ≈ 67k turns (stream_mixed); synth averages
# ~28 turns per conversation. Sizes are bounded by the run budget: on 4
# vCPUs every op here is dominated by per-job latency, not data volume. The
# impute table is just above 1 MiB of parquet, so the fused pass still
# writes its 16-file Z-ordered minimum (curve bounds and all).
PASS_CONVS = 5400
STREAM_CONVS = 2400
BASE_FILES = 16
PASS_TARGET_BYTES = 32 * 1024 * 1024     # as the historical headline pass
CLUSTER_TARGET_BYTES = 32 * 1024         # cadence files of ~1/16 table
FULL_SCANS = 9                           # full scans after a timed pass
POINT_READS = 2                          # point reads per stream cycle
NEW_CONVS = 200                          # conversations per ingest batch
EDIT_ROWS = 100                          # rows per late-edit batch
KEYS = ["conv_id", "turn_idx"]


def n_turns(i: int) -> int:
    """Turn count of synthetic conversation ``i`` (engine.synth formula)."""
    base = 8 + (i * 2654435761) % 25
    return base * 40 if i % 97 == 0 else base


class Round:
    """Timing, checks and counters of one workload run."""

    def __init__(self, spark, tracer, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.samples: dict[str, list[float]] = {}
        self.cold: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.counts: dict[str, list[float]] = {}
        self.warm = False
        self.t_window = 0.0      # wall clock at the start of the window
        self.setup_s = 0.0
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def window(self):
        """The timed window: ops inside are the measured samples, spans and
        phase marks are recorded when tracing."""
        self.setup_s = time.perf_counter() - self._t0
        self.warm, self.t_window = True, time.time()
        try:
            with self.tracer.window():
                yield
        finally:
            self.warm = False

    def timed(self, kind: str, fn):
        """Run one op; its wall time is a sample inside the timed window,
        and the cold sample when it is the session's first op of its kind."""
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.cold.setdefault(kind, dt)
        if self.warm:
            self.samples.setdefault(kind, []).append(dt)
        return out

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def count(self, name: str, value: float) -> None:
        if self.warm:
            self.counts.setdefault(name, []).append(value)

    def measuring(self, rounds_done: int) -> bool:
        """At least one round, then until the measuring time is spent."""
        return (rounds_done < 1
                or time.time() - self.t_window < self.seconds)


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class FileLedger:
    """Bytes and files written under a table root, by diffing the tree
    after each op (untimed)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen = _tree(root)

    def delta(self) -> dict[str, int]:
        now = _tree(self.root)
        new = {p: s for p, s in now.items() if p not in self.seen}
        self.seen = now
        meta = os.path.join(self.root, "metadata")
        return {
            "data_files": sum(1 for p in new if not p.startswith(meta)),
            "data_bytes": sum(s for p, s in new.items()
                              if not p.startswith(meta)),
            "metadata_bytes": sum(s for p, s in new.items()
                                  if p.startswith(meta)),
        }


def _live(table: Table) -> dict[str, int]:
    return {e.path: e.file_size_bytes for e in table.manifest_entries()}


def build(spark, root: str, convs: int, seed: int, inject: bool):
    """The table in range layout (bench.py's phase_build recipe), with ~1%
    of role/tool/text cells nulled by a seeded mask when ``inject``; without
    it, the complete rows in the Z-order layout the maintenance cadence
    leaves behind."""
    shutil.rmtree(root, ignore_errors=True)
    df = synth.generate_transcripts(spark, num_convs=convs)
    injected, wl = synth.inject_missing(df, seed=seed)
    t = Table.create(root)
    if inject:
        write.append(t, injected, num_files=BASE_FILES, range_cols=KEYS,
                     sort_cols=KEYS,
                     bounds=synth.conv_bounds(convs, BASE_FILES))
    else:
        write.append(t, layout.cluster_dataframe(df, "zorder", BASE_FILES))
    return t, df, wl


def cell_mask(df, wl):
    """Per row of ``df`` with a cell the pass may fill, keyed (conv_id,
    turn_idx): ``m_role``/``m_tool``/``m_text`` mark the injected cells of
    the worklist, ``m_dep`` a null tool on a row whose role is injected.
    synth gives a tool to exactly the role='tool' turns, and engine.merge
    fills a null tool when the row's (possibly imputed) role is 'tool'
    (``plan_impute_updates``), so while the role is unknown such a null is
    as missing as an injected tool: the pass fills it exactly when it
    imputes role 'tool'."""
    inj = wl.groupBy(*KEYS).agg(*[
        F.max(F.when(F.col("column_name") == c, 1)).alias(f"m_{c}")
        for c in ("role", "tool", "text")])
    dep = (df.filter(F.col("role").isNull() & F.col("tool").isNull())
           .select(*KEYS, F.lit(1).alias("m_dep")))
    return inj.join(dep, KEYS, "left")


def _digest(df, mask) -> tuple[int, str, int]:
    """(rows, order-insensitive hash of every cell the pass may not fill,
    rows breaking the tool rule) over (conv_id, turn_idx, role, tool, text).
    Equal hashes mean the same multiset of rows outside the fillable cells,
    so no row was lost, added or duplicated. A row breaks the tool rule when
    it holds an ``m_dep`` cell and has a tool but a role other than 'tool',
    or role 'tool' and no tool."""
    j = df.join(F.broadcast(mask), KEYS, "left")
    masked = {"role": F.col("m_role") == 1,
              "tool": (F.col("m_tool") == 1) | (F.col("m_dep") == 1),
              "text": F.col("m_text") == 1}

    def cell(c):
        return (F.when(masked[c], F.lit("\u0000masked"))
                .otherwise(F.coalesce(F.col(c), F.lit("\u0000null"))))
    h = F.xxhash64("conv_id", "turn_idx", cell("role"), cell("tool"),
                   cell("text")).cast("decimal(38,0)")
    is_tool = F.coalesce(F.col("role") == "tool", F.lit(False))
    bad = (F.col("m_dep") == 1) & (is_tool != F.col("tool").isNotNull())
    row = j.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"),
                F.count(F.when(bad, 1)).alias("bad")).first()
    return row["n"], str(row["h"]), row["bad"]


# ---------------------------------------------------------------- impute_pass
def impute_pass(r: Round, work: str, seed: int) -> dict:
    """Fused impute-MERGE maintenance pass + full scans on a fresh copy of
    the injected table, as bench.py's headline window."""
    spark, tr = r.spark, r.tracer
    base, _, wl = build(spark, os.path.join(work, "base"), PASS_CONVS, seed,
                        inject=True)
    wl = wl.persist()
    cells_missing = wl.count()
    mask = cell_mask(scan_mod.scan(spark, base), wl).persist()
    rows0, hash0, _ = _digest(scan_mod.scan(spark, base), mask)
    run_root = os.path.join(work, "run")

    def one_pass() -> Table:
        shutil.rmtree(run_root, ignore_errors=True)
        shutil.copytree(base.root, run_root)
        t = Table(run_root)
        ledger, live0, v0 = FileLedger(run_root), _live(t), t.current_version()
        res = r.timed("maintain_pass", lambda: maintain.run_maintenance(
            spark, t, target_bytes=PASS_TARGET_BYTES,
            separate_compaction=False, grace_seconds=0.0,
            collect_metrics=False))

        def full_scan():
            # decodes every column: rows and non-null cells per column
            with tr.span("scan"):
                df = scan_mod.scan(spark, t)
                return df.agg(F.count(F.lit(1)),
                              *[F.count(c) for c in df.columns]).first()[0]
        n = [r.timed("full_scan", full_scan) for _ in range(FULL_SCANS)]
        d, live1 = ledger.delta(), _live(t)
        gone = set(live0) - set(live1)
        r.count("write.files_written", d["data_files"])
        r.count("write.bytes_written", d["data_bytes"])
        r.count("format.metadata_bytes", d["metadata_bytes"])
        r.count("maintain.files_rewritten", len(gone))
        r.count("maintain.bytes_rewritten", sum(live0[p] for p in gone))
        r.count("maintain.orphans_removed", res.get("orphans_removed", 0))
        r.count("format.commits", t.current_version() - v0)
        with tr.paused():
            rows, h, bad = _digest(scan_mod.scan(spark, t), mask)
        r.check("pass: row count unchanged",
                rows == rows0 and n == [rows0] * FULL_SCANS)
        r.check("pass: cells it may not fill unchanged", h == hash0)
        r.check("pass: tool filled where the imputed role is 'tool'",
                bad == 0)
        return t

    # no warm-up pass: each run times the session's first pass, as
    # bench.py's headline does (one pass per fresh process after a light
    # warm-up; here the build and the digest jobs are that warm-up)
    rounds = 0
    with r.window():
        while r.measuring(rounds):
            t = one_pass()
            rounds += 1
    acc = merge.evaluate_impute(scan_mod.scan(spark, t), wl)
    hits = sum(c["acc"] * c["n"] for c in acc.values())
    wl.unpersist()
    mask.unpersist()
    p = statistics.median(r.samples["maintain_pass"])
    s = statistics.median(r.samples["full_scan"])
    return {
        "setup_s": r.setup_s,
        "rounds": rounds,
        "e2e": {
            "maintain_turns_per_s": (rows0 / (p + s), "turns/s", rounds),
            "impute_exact_match": (hits / max(1, cells_missing),
                                   "fraction", cells_missing),
        },
        "gated": {"write": ["maintain_pass"], "read": ["full_scan"]},
        "layers": {
            "impute.cells_missing": cells_missing,
            **{f"impute.exact_match.{c}": acc.get(c, {}).get("acc", 0.0)
               for c in ("role", "tool", "text")},
        },
        "table_rows": rows0,
    }


# ---------------------------------------------------------------- stream_mixed
def stream_mixed(r: Round, work: str, seed: int) -> dict:
    """Per cycle: one new-conversation ingest, one sparse late edit (the
    merge-on-read path), point reads of the edited conversations (read your
    write), a conv IN-list read and a ts-window read, then the maintenance
    cadence."""
    spark, tr = r.spark, r.tracer
    rng = random.Random(seed)
    # the base table holds the complete rows in the Z-order layout the
    # maintenance cadence leaves behind
    t, df, _ = build(spark, os.path.join(work, "base"), STREAM_CONVS, seed,
                     inject=False)
    # batch rows are generated once, on the driver; each op gets a fresh
    # in-memory frame of them, so no generation job runs per op
    base_pdf = df.toPandas()
    new_pdf = synth.generate_transcripts(spark, num_convs=NEW_CONVS) \
        .toPandas()
    expected_rows = sum(n_turns(i) for i in range(STREAM_CONVS))
    turns = {f"conv-{i:08d}": n_turns(i) for i in range(STREAM_CONVS)}
    batches = 0
    edits: list = []          # (conv_id, prefix) of every late edit
    ledger = FileLedger(t.root)
    submitted = 0
    ts_lo = synth.BASE_EPOCH
    ts_hi = synth.BASE_EPOCH + STREAM_CONVS * 7919

    def read_span(fn):
        with tr.span("scan"):
            return fn()

    def prune_counts(kind: str, preds) -> None:
        entries = t.manifest_entries()
        kept = scan_mod.prune_files(entries, preds)
        dels = scan_mod.prune_files(
            t.manifest_entries(content="deletes"), preds)
        r.count(f"scan.{kind}.files_kept_frac", len(kept) / len(entries))
        r.count("scan.delete_files_applied", len(dels))

    def point_read(cid: str, edited_prefix: str | None) -> None:
        preds = [scan_mod.Predicate("conv_id", "eq", cid)]
        rows = r.timed("point_read", lambda: read_span(
            lambda: scan_mod.scan(spark, t, predicates=preds)
            .filter(F.col("conv_id") == cid).collect()))
        prune_counts("point", preds)
        idx = sorted(x["turn_idx"] for x in rows)
        ok = idx == list(range(turns[cid]))
        if edited_prefix is not None:
            ok = ok and all(x["text"].startswith(edited_prefix)
                            for x in rows)
        r.check(f"point read {cid}", ok)

    def cadence() -> None:
        def run():
            maintain.compact_deletes(spark, t)
            maintain.rewrite_deletes(spark, t, CLUSTER_TARGET_BYTES)
            maintain.compact(spark, t, CLUSTER_TARGET_BYTES)
            maintain.expire_snapshots(t, keep_last=2)
            maintain.expire_checkpoints(t)
            return maintain.sweep_orphans(spark, t, grace_seconds=0.0)
        live0 = _live(t)
        orphans = r.timed("cadence", run)
        live1 = _live(t)
        gone = set(live0) - set(live1)
        r.count("maintain.files_rewritten", len(gone))
        r.count("maintain.bytes_rewritten", sum(live0[p] for p in gone))
        r.count("maintain.orphans_removed", len(orphans))
        with tr.paused():
            n = scan_mod.scan(spark, t).count()
        r.check("cadence: row count", n == expected_rows)

    def cycle(c: int) -> None:
        nonlocal expected_rows, submitted, batches
        v0 = t.current_version()
        prefix = f"s{seed}c{c:03d}-"
        pdf = new_pdf.assign(conv_id=prefix + new_pdf["conv_id"])
        batch = spark.createDataFrame(pdf, streaming.TRANSCRIPT_DDL)
        n_new = len(pdf)
        r.timed("ingest", lambda: streaming.ingest_batch(
            spark, t, batch, batch_id=10_000 + c))
        for i in range(NEW_CONVS):
            turns[f"{prefix}conv-{i:08d}"] = n_turns(i)
        expected_rows += n_new
        batches += 1
        # sparse late edit: whole non-hot conversations, ~EDIT_ROWS rows
        ids, rows = [], 0
        while rows < EDIT_ROWS:
            i = rng.randrange(STREAM_CONVS)
            if i % 97 and f"conv-{i:08d}" not in ids:
                ids.append(f"conv-{i:08d}")
                rows += n_turns(i)
        tag = f"edit s{seed}c{c}: "
        pdf = base_pdf[base_pdf["conv_id"].isin(ids)]
        pdf = pdf.assign(text=tag + pdf["text"])
        upd = spark.createDataFrame(pdf, streaming.TRANSCRIPT_DDL)
        n_upd = len(pdf)
        r.timed("upsert", lambda: streaming.ingest_batch(
            spark, t, upd, batch_id=20_000 + c))
        edits.extend((cid, tag) for cid in ids)
        # read your write: edited conversations read back edited. The
        # warm-up cycle reads one and skips the range reads, which share
        # the point read's scan path: their first run costs ~0.6 s more,
        # a warm-up run of both ~4 s of the run budget
        for cid in ids[:POINT_READS if r.warm else 1]:
            point_read(cid, tag)
        if r.warm:
            range_in()
            range_ts()
        # every cycle ends with the cadence: a late edit on a table that
        # still holds the previous edit's delete file costs ~3x as much
        cadence()
        d = ledger.delta()
        r.count("write.files_written", d["data_files"])
        r.count("write.bytes_written", d["data_bytes"])
        r.count("format.metadata_bytes", d["metadata_bytes"])
        r.count("format.commits", t.current_version() - v0)
        submitted += n_new + n_upd

    def range_in() -> None:
        in_ids = sorted({f"conv-{rng.randrange(STREAM_CONVS):08d}"
                         for _ in range(8)})
        preds = [scan_mod.Predicate("conv_id", "in", in_ids)]
        n_in = r.timed("range_read", lambda: read_span(
            lambda: scan_mod.scan(spark, t, predicates=preds)
            .filter(F.col("conv_id").isin(in_ids)).count()))
        prune_counts("range", preds)
        r.check("conv IN-list read", n_in == sum(turns[x] for x in in_ids))

    def range_ts() -> None:
        lo = rng.randrange(ts_lo, ts_hi - 86_400)
        win = (F.col("ts") >= F.timestamp_seconds(F.lit(lo))) & (
            F.col("ts") < F.timestamp_seconds(F.lit(lo + 86_400)))
        # manifest ts stats are ISO strings in UTC; compare like with like
        preds = [scan_mod.Predicate("ts", "ge", _iso(lo)),
                 scan_mod.Predicate("ts", "lt", _iso(lo + 86_400))]
        n_ts = r.timed("range_read", lambda: read_span(
            lambda: scan_mod.scan(spark, t, predicates=preds)
            .filter(win).count()))
        prune_counts("range", preds)
        want = (ts_rows(range(STREAM_CONVS), lo, lo + 86_400)
                + batches * ts_rows(range(NEW_CONVS), lo, lo + 86_400))
        r.check("ts-window read", n_ts == want)

    cycle(0)
    submitted = 0
    rounds = 0
    with r.window():
        while r.measuring(rounds):
            cycle(rounds + 1)
            rounds += 1
    # final outside-in checks over the whole table
    latest = dict(edits)
    ed = spark.createDataFrame(list(latest.items()), "conv_id string, tag "
                               "string")
    final = scan_mod.scan(spark, t).join(F.broadcast(ed), "conv_id", "left")
    unedited = F.col("tag").isNotNull() & ~F.col("text").startswith(
        F.col("tag"))
    n, k, bad = final.agg(F.count(F.lit(1)), F.count_distinct(*KEYS),
                          F.count(F.when(unedited, 1))).first()
    r.check("final row count = base + inserted", n == expected_rows)
    r.check("no duplicate (conv_id, turn_idx) keys", k == n)
    r.check("every edited row reads back edited", bad == 0)
    reads = r.samples["point_read"]
    tail_p, tail_v = tail(reads)
    wb = sum(r.counts["write.bytes_written"]) + sum(
        r.counts["format.metadata_bytes"])
    return {
        "setup_s": r.setup_s,
        "rounds": rounds,
        "e2e": {
            "upsert_p50_s": (statistics.median(r.samples["upsert"]), "s",
                             len(r.samples["upsert"])),
            "ingest_p50_s": (statistics.median(r.samples["ingest"]), "s",
                             len(r.samples["ingest"])),
            "point_read_p50_s": (statistics.median(reads), "s", len(reads)),
            "point_read_tail_s": (tail_v, "s", len(reads),
                                  {"percentile": tail_p}),
            "range_read_p50_s": (statistics.median(r.samples["range_read"]),
                                 "s", len(r.samples["range_read"])),
            "cadence_s": (statistics.median(r.samples["cadence"]), "s",
                          len(r.samples["cadence"])),
            "write_bytes_per_row": (wb / max(1, submitted), "bytes/row",
                                    submitted),
        },
        "gated": {"write": ["upsert"],
                  "read": ["point_read", "range_read"]},
        "layers": {"upsert_max_s": max(r.samples["upsert"])},
        "table_rows": expected_rows,
    }


def ts_rows(convs, lo: int, hi: int) -> int:
    """Rows of synthetic conversations ``convs`` with lo <= ts < hi
    (engine.synth: ts = BASE_EPOCH + i * 7919 + turn_idx * 13)."""
    total = 0
    for i in convs:
        t0 = synth.BASE_EPOCH + i * 7919
        a = max(0, -((t0 - lo) // 13))          # first turn with ts >= lo
        b = min(n_turns(i), -((t0 - hi) // 13))  # first turn with ts >= hi
        total += max(0, b - a)
    return total


def _iso(epoch_s: int) -> str:
    return str(datetime.datetime.fromtimestamp(epoch_s,
                                               datetime.timezone.utc))


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it (the
    median when there are fewer than twenty samples), and its value."""
    n = len(samples)
    p = max(50.0, math.floor(100.0 * (1 - 10 / n))) if n else 50.0
    s = sorted(samples)
    return p, s[min(n - 1, int(math.ceil(p / 100.0 * n)) - 1)]


WORKLOADS = {"impute_pass": impute_pass, "stream_mixed": stream_mixed}
