"""Seeded input generators. The same seed gives byte-identical inputs.

Every workload's ticks are rows of the corpus `events` schema (event_id, ts,
user_id, event_type, value, props), the table the engine's trades view
projects: user_id becomes the symbol, value the price and
`1 + event_id % 100` the volume. Symbol frequency is Zipf-skewed; about 1% of
ticks are large trades at 10-15x the mean normal volume.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["purchase", "click", "view", "signup", "error"])
EVENT_P = [0.35, 0.35, 0.1, 0.1, 0.1]
START_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
DAY_US = 86_400 * 1_000_000
LARGE_SHARE = 0.01

SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])
ENTITY_SCHEMA = pa.schema([("symbol", pa.string()), ("event_timestamp", pa.timestamp("us", tz="UTC"))])

# Sizes per workload. They do not depend on the seed, so every seed offers the
# same amount of work.
BACKFILL = dict(ticks=40_000, symbols=200, zipf=1.1, days=28, entities=1000,
                warmup_ticks=4000, warmup_entities=100)

# Stream and serve traffic is the production topology run faster (see
# README.md, "Where the traffic comes from"). productionQueries uses a 10 s
# ingest trigger and a 1 min OHLC trigger. A probe of that topology on a
# 4-vCPU host ran OHLC micro-batches of 2,500 ticks in 0.7-1.0 s; taking that
# batch as one production minute of ticks is an assumption. Both triggers are
# divided by TIME_SCALE (an assumption) so a short run holds several OHLC
# batches; the ticks per batch stay at 2,500, so the offered rate is 2,500
# ticks per (60 s / TIME_SCALE). Event time advances 2,500 ticks a minute, so
# every OHLC batch closes about one 1-minute bar per symbol.
TIME_SCALE = 25
TICKS_PER_MINUTE = 2500
MINUTE_MS = 60_000 // TIME_SCALE
EVENT_US_PER_TICK = 60_000_000 // TICKS_PER_MINUTE
# Files land every 120 ms (an assumption: the repo does not say how ticks
# arrive); this only sets how many freshness samples a run holds.
STREAM = dict(symbols=50, zipf=1.1, seed_ticks=200, period_ms=120,
              backlog_files=20, backlog_ticks=500, ooo_share=0.05,
              raw_trigger_ms=10_000 // TIME_SCALE, bars_trigger_ms=MINUTE_MS)
STREAM["open_ticks"] = TICKS_PER_MINUTE * STREAM["period_ms"] // MINUTE_MS
# Serve's writer commits one production minute of ticks once per scaled
# minute. Corrections (50 rows, every 4th writer op), the historical share
# (every 10th request, 100 entities), the repeat share (20%), the reads per
# table version (3) and the reader's lag behind the writer (2 versions) are
# assumptions: the repo records no serving mix.
SERVE = dict(symbols=100, zipf=1.1, days=28, slice_ticks=TICKS_PER_MINUTE, initial_slices=3,
             writer_period_ms=MINUTE_MS, merge_every=4, correction_rows=50, hist_every=10,
             entity_rows=100, repeat_share=0.2, reads_per_version=3, version_lag=2)


class Symbols:
    """Zipf-ranked symbols; the rank-to-id mapping is shuffled per seed."""

    def __init__(self, rng, n, s):
        p = 1.0 / np.arange(1, n + 1) ** s
        self.p = p / p.sum()
        self.ids = rng.permutation(n) + 1

    def draw(self, rng, k):
        return self.ids[rng.choice(len(self.ids), size=k, p=self.p)]


class Ticks:
    """A chronological tick corpus with per-symbol random-walk prices."""

    def __init__(self, rng, symbols, n, start_us, span_us, first_id=0):
        self.user_id = symbols.draw(rng, n)
        # strictly increasing, so (symbol, time) is unique as the oracles assume
        self.ts = start_us + np.sort(rng.integers(0, span_us - n, size=n)) + np.arange(n)
        base = dict(zip(symbols.ids, rng.uniform(10, 500, size=len(symbols.ids))))
        steps = rng.normal(0.0, 0.002, size=n)
        order = np.argsort(self.user_id, kind="stable")
        walk = np.empty(n)
        sorted_ids = self.user_id[order]
        cums = np.cumsum(steps[order])
        starts = np.r_[0, np.flatnonzero(np.diff(sorted_ids)) + 1]
        offsets = np.repeat(cums[starts] - steps[order][starts], np.diff(np.r_[starts, n]))
        walk[order] = cums - offsets
        self.value = np.round(np.array([base[u] for u in self.user_id]) * np.exp(walk), 2)
        large = rng.random(n) < LARGE_SHARE
        # normal volume 1..10 (mean 5.5); large volume 55..82, i.e. 10-15x
        vol = np.where(large, rng.integers(55, 83, size=n), rng.integers(1, 11, size=n))
        self.event_id = (first_id + np.arange(n, dtype=np.int64)) * 100 + (vol - 1)
        self.event_type = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n, p=EVENT_P)]
        self.props = np.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n)])
        self.large = int(large.sum())

    def __len__(self):
        return len(self.ts)

    def table(self):
        return pa.table([
            pa.array(self.event_id, pa.int64()),
            pa.array(self.ts, pa.timestamp("us")),
            pa.array(self.user_id, pa.int64()),
            pa.array(self.event_type, pa.string()),
            pa.array(self.value, pa.float64()),
            pa.array(self.props, pa.string())], schema=SCHEMA)


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def entities(rng, symbols, n, lo_us, hi_us, path):
    table = pa.table([
        pa.array([str(s) for s in symbols.draw(rng, n)], pa.string()),
        pa.array(rng.integers(lo_us, hi_us, size=n) // 1_000_000 * 1_000_000,
                 pa.timestamp("us", tz="UTC"))], schema=ENTITY_SCHEMA)
    write(table, path)


def backfill(rng, out, seconds):
    c = BACKFILL
    syms = Symbols(rng, c["symbols"], c["zipf"])
    ticks = Ticks(rng, syms, c["ticks"], START_US, c["days"] * DAY_US)
    write(ticks.table(), f"{out}/backfill/events.parquet")
    entities(rng, syms, c["entities"], START_US, START_US + c["days"] * DAY_US,
             f"{out}/backfill/entities.parquet")
    # a small corpus of the same shape for the untimed warm-up job
    warm = Ticks(rng, syms, c["warmup_ticks"], START_US, c["days"] * DAY_US)
    write(warm.table(), f"{out}/backfill_warmup/events.parquet")
    entities(rng, syms, c["warmup_entities"], START_US, START_US + c["days"] * DAY_US,
             f"{out}/backfill_warmup/entities.parquet")
    props = dict(ticks=len(ticks), symbols=c["symbols"], zipf_s=c["zipf"], days=c["days"],
                 large_trades=ticks.large, entity_rows=c["entities"],
                 out_of_order_share=0.0, repeat_share=0.0, offered_rate_per_s=None)
    return props, {}


def stream(rng, out, seconds):
    c = STREAM
    syms = Symbols(rng, c["symbols"], c["zipf"])
    # whole OHLC trigger periods, so every file's wait for the next trigger
    # is spread evenly over the period whatever the grid's phase
    triggers = max(1, int(seconds * 1000 // c["bars_trigger_ms"]))
    open_files = triggers * c["bars_trigger_ms"] // c["period_ms"]
    counts = [c["seed_ticks"]] + [c["open_ticks"]] * open_files + [c["backlog_ticks"]] * c["backlog_files"]
    names = (["seed.parquet"] + [f"open{j:05d}.parquet" for j in range(open_files)]
             + [f"backlog{j:05d}.parquet" for j in range(c["backlog_files"])])
    files, first_id, moved, start = [], 0, 0, START_US
    for n in counts:
        span = n * EVENT_US_PER_TICK
        files.append(Ticks(rng, syms, n, start, span, first_id).table())
        first_id += n
        start += span
    # Out of order: a share of each file's ticks arrive one file late, i.e. at
    # most two file spans (24 s) behind the newest tick seen, inside the
    # 1-minute watermark, so no tick is dropped and the result is exact.
    final = []
    carry = None
    for j, tbl in enumerate(files):
        n = tbl.num_rows
        late = rng.random(n) < c["ooo_share"] if j + 1 < len(files) else np.zeros(n, bool)
        keep = tbl.filter(pa.array(~late))
        if carry is not None:
            keep = pa.concat_tables([keep, carry])
        moved += int(late.sum())
        carry = tbl.filter(pa.array(late))
        final.append(keep.take(pa.array(rng.permutation(keep.num_rows))))
    for name, tbl in zip(names, final):
        write(tbl, f"{out}/stream/{name}")
    total = sum(counts)
    rows = np.cumsum([t.num_rows for t in final])
    props = dict(ticks=total, symbols=c["symbols"], zipf_s=c["zipf"], files=len(names),
                 open_files=open_files, ticks_per_file=c["open_ticks"],
                 backlog_files=c["backlog_files"],
                 backlog_ticks=c["backlog_files"] * c["backlog_ticks"],
                 out_of_order_share=round(moved / total, 6), repeat_share=0.0,
                 offered_rate_per_s=c["open_ticks"] * 1000 / c["period_ms"],
                 time_scale=TIME_SCALE, raw_trigger_ms=c["raw_trigger_ms"],
                 bars_trigger_ms=c["bars_trigger_ms"])
    spec = {"stream.period_ms": c["period_ms"], "stream.open_files": open_files,
            "stream.backlog_files": c["backlog_files"],
            "stream.seed_rows": int(rows[0]), "stream.open_rows": int(rows[open_files]),
            "stream.all_rows": int(rows[-1]),
            "stream.raw_trigger_ms": c["raw_trigger_ms"],
            "stream.bars_trigger_ms": c["bars_trigger_ms"]}
    return props, spec


def serve(rng, out, seconds):
    c = SERVE
    syms = Symbols(rng, c["symbols"], c["zipf"])
    # every writer op falls due inside the measured seconds
    ops = max(1, int(seconds * 1000 // c["writer_period_ms"]))
    appends = ops - ops // c["merge_every"]
    n_slices = c["initial_slices"] + appends
    span = c["days"] * DAY_US // n_slices // 1_000_000 * 1_000_000
    slices, first_id = [], 0
    for k in range(n_slices):
        t = Ticks(rng, syms, c["slice_ticks"], START_US + k * span, span, first_id)
        first_id += len(t)
        slices.append(t.table())
        write(slices[-1], f"{out}/serve/slices/s{k:03d}/events.parquet")
    # Writer schedule: every merge_every-th op corrects prices of rows in the
    # newest committed slice; the others append the next slice. Op j
    # publishes version initial_slices + j + 1; committed[k] is the slice
    # count of version initial_slices + k.
    writer, committed = [], [c["initial_slices"]]
    for j in range(ops):
        if j % c["merge_every"] == c["merge_every"] - 1:
            pool = slices[committed[-1] - 1]
            pick = np.sort(rng.choice(pool.num_rows, size=c["correction_rows"], replace=False))
            fix = pool.take(pa.array(pick))
            bumped = np.round(fix.column("value").to_numpy() * rng.uniform(0.98, 1.02, len(pick)), 2)
            fix = fix.set_column(4, "value", pa.array(bumped, pa.float64()))
            d = f"{out}/serve/corr/c{j:03d}"
            write(fix, f"{d}/events.parquet")
            writer.append(("merge", os.path.abspath(d)))
            committed.append(committed[-1])
        else:
            writer.append(("commit", os.path.abspath(f"{out}/serve/slices/s{committed[-1]:03d}")))
            committed.append(committed[-1] + 1)
    # Read i pins version initial_slices + max(0, i // reads_per_version -
    # version_lag), so every run of a seed reads the same versions whatever
    # the host's speed. The reader waits, untimed, when its version is not
    # published yet; the lag keeps that rare, so reads overlap writes. Its
    # as-of time, or its entity timestamps, are uniform at second precision
    # over the span that version has committed, so reads reach the slices
    # and corrections the writer adds.
    reqs, pits = [], []
    for i in range((ops + 1 + c["version_lag"]) * c["reads_per_version"]):
        k = max(0, i // c["reads_per_version"] - c["version_lag"])
        version = c["initial_slices"] + k
        end_us = START_US + committed[k] * span
        if i % c["hist_every"] == c["hist_every"] - 1:
            p = os.path.abspath(f"{out}/serve/entities/e{i:03d}.parquet")
            entities(rng, syms, c["entity_rows"], START_US, end_us, p)
            reqs.append(("hist", version, "-", "-", p))
        elif pits and rng.random() < c["repeat_share"]:
            reqs.append(("repeat", version, *pits[rng.integers(len(pits))], "-"))
        else:
            at = np.datetime64(int(START_US // 1_000_000 + rng.integers((end_us - START_US) // 1_000_000)), "s")
            pits.append((str(syms.draw(rng, 1)[0]), str(at).replace("T", " ")))
            reqs.append(("pit", version, *pits[-1], "-"))
    with open(f"{out}/serve/requests.tsv", "w") as f:
        f.writelines("\t".join(map(str, r)) + "\n" for r in reqs)
    with open(f"{out}/serve/writer_ops.tsv", "w") as f:
        f.writelines(f"{k}\t{d}\n" for k, d in writer)
    props = dict(ticks=n_slices * c["slice_ticks"], symbols=c["symbols"], zipf_s=c["zipf"],
                 initial_slices=c["initial_slices"], slice_ticks=c["slice_ticks"],
                 writer_ops=ops, writer_period_ms=c["writer_period_ms"],
                 merge_every=c["merge_every"], correction_rows=c["correction_rows"],
                 requests=len(reqs), reads_per_version=c["reads_per_version"],
                 version_lag=c["version_lag"],
                 hist_every=c["hist_every"], entity_rows=c["entity_rows"],
                 repeat_share=c["repeat_share"], out_of_order_share=0.0, time_scale=TIME_SCALE,
                 offered_rate_per_s=1000 / c["writer_period_ms"] * c["slice_ticks"])
    spec = {"serve.initial_slices": c["initial_slices"],
            "serve.writer_period_ms": c["writer_period_ms"]}
    return props, spec


def registry(rng, out, seconds):
    # The registry's inputs are the fixed corpus its oracle SQL is pinned to.
    return dict(seeded=False, corpus="perfbench/corpus/sf0.01"), {}


GENERATORS = dict(backfill=backfill, stream=stream, serve=serve, registry=registry)


def generate(workload, seed, seconds, out):
    rng = np.random.default_rng(seed)
    return GENERATORS[workload](rng, out, seconds)
