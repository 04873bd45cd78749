"""End-to-end benchmark of the paper's ingestion pipeline (`graft.etl`).

    python3 pipebench/run.py --workload history_3m --seed 1 --seconds 10 --trace 0

One run generates a seeded history of daily minute-bar CSVs and drives the
pipeline through its whole life on them, in one Spark driver JVM on
`local[4]`:

  1. cold `BtcPipeline.backfill` of the history into an empty sink,
  2. no-op reruns (every file already in the ledger),
  3. a replay after the ledger is deleted (every row hits the sink
     anti-join; nothing is appended),
  4. closed-loop increments: one new day lands, then one `backfill` call,
  5. the streaming tail: `BtcPipeline.watch` on a landing directory, fed
     open loop at a fixed rate for `--seconds` seconds by this process.

Every output is checked against the generator's expected values (with
DuckDB over the sink); a failed check fails the run. The last stdout line
is one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics of
BENCHMARK.json with `--trace 1`). With `--trace 1` the spans are also
written to `.bench_out/`.

All scratch state (inputs, sinks, checkpoints, the JVM's temp dir, Spark
local dir, warehouse and Derby home) lives under one per-run directory in
`.bench_run/`, deleted at exit.
"""
import argparse
import calendar
import datetime as dt
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import catalog  # noqa: E402
import gen  # noqa: E402
from jvm import JvmError, start_timed  # noqa: E402

MASTER = "local[4]"
HISTORY_START = dt.date(2011, 12, 31)  # first day of the reference set
WARM_START = dt.date(2010, 1, 1)  # the streamed warm-up day, before the history
VISIBLE_TIMEOUT_S = 60  # a streamed file not in the sink by then has failed
# The JVMs are killed this long after the build, so a hung run still ends:
# RUN_TIMEOUT_BASE_S for the fixed work, 2 x --seconds for the streamed
# phases of a traced run and VISIBLE_TIMEOUT_S for the last streamed file.
RUN_TIMEOUT_BASE_S = 90
OVERHEAD_PAIRS = 6  # untraced/traced no-op pairs for trace.overhead_frac
ROUNDS = 2  # cold backfill, no-ops, replay and increments, each into a fresh sink
NOOPS = 4  # no-op reruns per round
INCREMENTS = 2  # closed-loop increments per round
TAIL_PRIMERS = 1  # untimed files that start the tail's query
LISTING_JOB_DIRS = 32  # Spark lists more partition directories than this with a job

# Both workloads run the same phases; they differ in history size, which
# sets the batch size of the cold backfill and replay and the number of
# date partitions every later sink open lists. The tail lands one file
# every `tail_gap_s`, longer than a trigger takes, so a file normally finds
# the query idle and the latency does not depend on where the arrivals fall
# against the trigger boundaries. history_1w's sink stays within
# LISTING_JOB_DIRS partitions to the end of the tail. pipebench/README.md
# says why each workload was chosen.
WORKLOADS = {
    "history_3m": {"days": 92, "tail_gap_s": 2.0},
    "history_1w": {"days": 7, "tail_gap_s": 1.25},
}


class CheckFailed(Exception):
    pass


def check(ok, what):
    if not ok:
        raise CheckFailed(what)


def epoch(ts):
    return calendar.timegm(dt.datetime.fromisoformat(ts).timetuple())


class Sink:
    """Reads the parquet sink with DuckDB, independently of Spark."""

    def __init__(self, path):
        import duckdb
        self.path, self.con = path, duckdb.connect()

    def _rel(self):
        return f"read_parquet('{self.path}/*/*.parquet', hive_partitioning=true)"

    def totals(self):
        n, distinct, lo, hi = self.con.execute(
            f"SELECT count(*), count(DISTINCT date_time), epoch(min(date_time)),"
            f" epoch(max(date_time)) FROM {self._rel()}").fetchone()
        return {"rows": n, "distinct": distinct, "min": lo, "max": hi}

    def per_date(self):
        return dict(self.con.execute(
            f"SELECT CAST(date AS VARCHAR), count(*) FROM {self._rel()} GROUP BY 1").fetchall())

    def files(self):
        out = []
        for d in os.listdir(self.path):
            if d.startswith("date="):
                part = os.path.join(self.path, d)
                out += [os.path.join(part, f) for f in os.listdir(part) if f.endswith(".parquet")]
        return out


def check_sink(path, expected, what):
    """The sink holds exactly the expected rows, one per `date_time`."""
    got = Sink(path).totals()
    check(got["rows"] == expected["kept"], f"{what}: {got['rows']} rows, expected {expected['kept']}")
    check(got["distinct"] == got["rows"], f"{what}: date_time not unique")
    check(got["min"] == epoch(expected["min"]) and got["max"] == epoch(expected["max"]),
          f"{what}: date_time range {got['min']}..{got['max']} != {expected['min']}..{expected['max']}")


def wait_visible(sink, names, deadline):
    """Polls until the date partition of every file in `names` holds a
    parquet file or `deadline` passes; returns when each became visible."""
    visible, want = {}, {f"date={n[7:17]}" for n in names}
    while len(visible) < len(want) and time.monotonic() < deadline:
        now = time.monotonic()
        if os.path.isdir(sink):
            for d in want.intersection(os.listdir(sink)) - visible.keys():
                if any(f.endswith(".parquet") for f in os.listdir(os.path.join(sink, d))):
                    visible[d] = now
        time.sleep(0.01)
    return visible


def check_days(path, files, what):
    """Every generated day in `files` is in the sink with all its kept rows."""
    per_date = Sink(path).per_date()
    for name, st in files.items():
        check(per_date.get(name[7:17], 0) == st["kept"],
              f"{what}: {name} has {per_date.get(name[7:17], 0)} rows, expected {st['kept']}")


def log(*a):
    print(f"[pipebench {time.strftime('%H:%M:%S')}]", *a, file=sys.stderr, flush=True)


class Run:
    def __init__(self, args, wl, classpath, root):
        self.args, self.wl, self.cp, self.root = args, wl, classpath, root
        self.jvms, self.attempted, self.failed = [], 0, 0
        self.op_seq = 0

    def path(self, *p):
        return os.path.join(self.root, *p)

    def jvm(self, master=MASTER):
        j, secs = start_timed(self.cp, self.root, master)
        self.jvms.append(j)
        return j, secs

    def op(self, kind):
        self.op_seq += 1
        return f"{kind}-{self.op_seq}"

    # ---- set-up ----------------------------------------------------------

    def generate(self):
        seed, wl = self.args.seed, self.wl
        self.history = gen.write_days(self.path("src"), HISTORY_START, wl["days"], seed,
                                      partial_first=True, invalid=True)
        nxt = HISTORY_START + dt.timedelta(days=wl["days"])
        self.inc_files = gen.write_days(self.path("next"), nxt, INCREMENTS, seed + 1)
        # the tail's first days prime the new query and are not timed
        tail = sorted(gen.write_days(self.path("next"), nxt + dt.timedelta(days=INCREMENTS),
                                     TAIL_PRIMERS + tail_files(wl, self.args.seconds),
                                     seed + 2).items())
        self.tail_primers, self.tail_files = dict(tail[:TAIL_PRIMERS]), dict(tail[TAIL_PRIMERS:])
        self.warm_tail = gen.write_days(self.path("next"), WARM_START, 1, seed + 3)

    def warm_up(self, j):
        """Loads and compiles what the timed calls use: a cold backfill of
        the history into a throwaway sink, a no-op rerun, a replay and one
        streamed file. In a fresh JVM the first backfill, no-op and replay
        each take 1.3x to 3x as long as a later one. Returns the time of
        that first backfill."""
        sink, ledger = self.path("warm_sink"), self.path("warm_ledger")
        first_s = j.call("backfill", "warm", self.path("src"), sink, ledger)["s"]
        j.call("backfill", "warm", self.path("src"), sink, ledger)
        shutil.rmtree(ledger)
        j.call("backfill", "warm", self.path("src"), sink, ledger)
        self.stream(j, "warm_land", "warm_sink", self.warm_tail, rate=4.0, lead=0.0)
        return first_s

    def setup(self):
        """Returns the warmed-up local[4] JVM, the set-up time and the time
        of the JVM's first backfill."""
        t0 = time.monotonic()
        self.generate()
        gen_s = time.monotonic() - t0
        j, start_s = self.jvm()
        t0 = time.monotonic()
        first_s = self.warm_up(j)
        warm_s = time.monotonic() - t0
        log(f"setup: generate {gen_s:.2f} s, JVM start {start_s:.2f} s, warm-up {warm_s:.2f} s")
        self.t_measure = time.monotonic()
        return j, gen_s + start_s + warm_s, first_s

    # ---- timed phases ----------------------------------------------------

    def backfill(self, j, kind, sink, ledger, layered=False):
        self.attempted += 1
        return j.call("layers" if layered else "backfill", self.op(kind),
                      self.path("src"), self.path(sink), self.path(ledger))

    def round(self, j, r, layered=False):
        """Into a fresh sink: a cold backfill, no-op reruns, a replay after
        the ledger is deleted, then closed-loop increments. Each increment
        day lands in the source directory, is backfilled and is moved out
        again, so every round starts from the same history."""
        sink, ledger = f"sink{r}", f"ledger{r}"
        expected = gen.totals(self.history)
        out = {"expected": expected, "cold": self.backfill(j, "cold", sink, ledger, layered)}
        check_sink(self.path(sink), expected, "cold backfill")
        files = Sink(self.path(sink)).files()
        out["bytes_per_row"] = sum(os.path.getsize(f) for f in files) / expected["kept"]
        out["noop"] = [self.backfill(j, "noop", sink, ledger, layered) for _ in range(NOOPS)]
        check_sink(self.path(sink), expected, "no-op rerun")
        shutil.rmtree(self.path(ledger))
        out["replay"] = self.backfill(j, "replay", sink, ledger, layered)
        check_sink(self.path(sink), expected, "replay")
        out["increment"] = []
        for name in sorted(self.inc_files):
            os.rename(self.path("next", name), self.path("src", name))
            out["increment"].append(self.backfill(j, "increment", sink, ledger, layered))
            os.rename(self.path("src", name), self.path("next", name))
        check_days(self.path(sink), self.inc_files, "increments")
        return out

    def stream(self, j, land, sink, files, rate, lead=1.0, primers=()):
        """Feeds `files` into a watched directory at `rate` files/s (open
        loop, from this process) and times each from its due time until its
        date partition holds a parquet file. The `primers` land first, one
        at a time, each waited for and untimed: the first triggers of a new
        query are up to twice as slow as later ones. Their batches are left
        out of the progress."""
        land, sink = self.path(land), self.path(sink)
        os.makedirs(land)
        j.call("watch_start", land, sink, land + "_ckpt")
        for name in primers:
            os.rename(self.path("next", name), os.path.join(land, name))
            check(wait_visible(sink, [name], time.monotonic() + VISIBLE_TIMEOUT_S),
                  f"tail: primer {name} not visible within {VISIBLE_TIMEOUT_S} s")
        names = sorted(files)
        start = time.monotonic() + lead
        due = [start + i / rate for i in range(len(names))]
        landed = [None] * len(names)

        def feed():
            for i, name in enumerate(names):
                time.sleep(max(0.0, due[i] - time.monotonic()))
                os.rename(self.path("next", name), os.path.join(land, name))
                landed[i] = time.monotonic()

        feeder = threading.Thread(target=feed, daemon=True)
        feeder.start()
        visible = wait_visible(sink, names, due[-1] + VISIBLE_TIMEOUT_S)
        feeder.join()
        progress = j.call("watch_stop")["progress"]
        primed = [p for p in progress if p["rows"] > 0][:len(primers)]
        progress = [p for p in progress if p not in primed]
        vis = [visible.get(f"date={n[7:17]}") for n in names]
        return {"due": due, "landed": landed, "visible": vis, "progress": progress}

    def tail(self, j, c):
        self.attempted += len(self.tail_files)
        out = self.stream(j, "land", f"sink{c}", self.tail_files, 1 / self.wl["tail_gap_s"],
                          primers=sorted(self.tail_primers))
        missing = sum(v is None for v in out["visible"])
        self.failed += missing
        check(missing == 0, f"tail: {missing} of {len(self.tail_files)} files not visible "
                            f"within {VISIBLE_TIMEOUT_S} s")
        check_days(self.path(f"sink{c}"), {**self.tail_primers, **self.tail_files}, "tail")
        lat = [v - d for v, d in zip(out["visible"], out["due"])]
        log("tail latencies: " + " ".join(f"{x:.2f}" for x in lat))
        out["latency"] = sorted(lat)
        return out

    # ---- runs ------------------------------------------------------------

    def end_to_end(self):
        j, setup_s, _ = self.setup()
        rounds = [self.round(j, r) for r in range(ROUNDS)]
        log(f"rounds done at {time.monotonic() - self.t_measure:.2f} s")
        lat = self.tail(j, ROUNDS - 1)["latency"]
        log(f"tail done at {time.monotonic() - self.t_measure:.2f} s")
        rows = rounds[0]["expected"]["rows"]
        return {
            "setup_s": (setup_s, "s"),
            "backfill_rows_per_s": (rows / statistics.median(r["cold"]["s"] for r in rounds), "rows/s"),
            "noop_rerun_s": (statistics.median(n["s"] for r in rounds for n in r["noop"]), "s"),
            "replay_s": (statistics.median(r["replay"]["s"] for r in rounds), "s"),
            "sink_bytes_per_row": (statistics.median(r["bytes_per_row"] for r in rounds), "B/row"),
            "increment_p50_s": (statistics.median(i["s"] for r in rounds for i in r["increment"]), "s"),
            "tail_latency_p50_s": (statistics.median(lat), "s"),
        }

    def catalog(self, j):
        """The catalog slice on tables generated from the seed: one pass of
        the keys, each timed around its call and a count of its result. The
        pipeline phases before it have warmed the JVM's Spark SQL, parquet
        and streaming paths. Every key's row count must equal its DuckDB
        oracle's."""
        tables = self.path("catalog")
        catalog.write_tables(tables, self.args.seed)
        keys = ",".join(catalog.KEYS)
        self.attempted += len(catalog.KEYS)
        got = j.call("catalog", tables, keys)["keys"]
        expected = catalog.oracle_rows(tables, j.call("oracle_sql", keys)["sql"])
        for k, n in expected.items():
            check(got[k]["rows"] == n, f"catalog {k}: {got[k]['rows']} rows, oracle {n}")
        metrics = {name: (got[k]["s"], "s") for k, name in catalog.KEYS.items()}
        metrics["catalog_total_s"] = (sum(r["s"] for r in got.values()), "s")
        log(f"catalog done: {metrics['catalog_total_s'][0]:.2f} s")
        return metrics

    def traced(self):
        # the paper's single-thread vs multi-thread figure, timed as the
        # paper's harness times it, from a fresh process: the first backfill
        # in a local[1] JVM over the first in the local[4] JVM, both untraced
        j, _, mt_s = self.setup()
        st, _ = self.jvm("local[1]")
        st_s = self.backfill(st, "st-cold", "sink_st", "ledger_st")["s"]
        st.close()
        log("local[1] backfill done")
        # the listener's totals cover one round and the tail on its sink
        j.call("trace", "1")
        self.round(j, 0)
        tail = self.tail(j, 0)
        spark = j.call("trace", "0")
        log("traced round and tail done")
        # tracing overhead: no-op reruns, alternately untraced and traced;
        # every other pair runs the traced one first, so a trend in the
        # JVM's speed falls on both sides alike
        plain, traced = [], []
        for i in range(OVERHEAD_PAIRS):
            for on in ((False, True) if i % 2 == 0 else (True, False)):
                if on:
                    j.call("trace", "1")
                    traced.append(self.backfill(j, "noop", "sink0", "ledger0")["s"])
                    j.call("trace", "0")
                else:
                    plain.append(self.backfill(j, "noop", "sink0", "ledger0")["s"])
        # layer times and counts: backfill's steps, one span each
        j.call("trace", "1")
        layered = self.round(j, 1, layered=True)
        j.call("trace", "0")
        log("layered round done")
        spans = j.call("spans")["spans"]
        metrics = self.catalog(j)
        heap = j.call("heap")["heap_peak_mb"]

        calls = [layered["cold"], *layered["noop"], layered["replay"], *layered["increment"]]
        for name in ("list", "ledger_filter", "transform", "dedup", "sink_open",
                     "sink_antijoin", "append", "ledger_write"):
            metrics[f"etl.{name}_s"] = (sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                                            if s["name"] == f"etl.{name}"), "s")
        for name in ("files_seen", "files_invalid", "rows_scanned", "rows_null_dropped",
                     "rows_pk_deduped", "rows_replay_removed", "rows_appended"):
            metrics[f"etl.{name}"] = (sum(c[name] for c in calls), "count")
        m = {k: v[0] for k, v in metrics.items()}
        check(m["etl.rows_scanned"] == m["etl.rows_null_dropped"] + m["etl.rows_pk_deduped"]
              + m["etl.rows_replay_removed"] + m["etl.rows_appended"], "layer counts do not add up")
        exp = gen.totals({**self.history, **self.inc_files})
        check(m["etl.rows_scanned"] == exp["rows"] + layered["expected"]["rows"],
              "rows scanned != generated rows")
        check(m["etl.rows_appended"] == exp["kept"], "rows appended != generated kept rows")
        check(m["etl.rows_pk_deduped"] == 2 * layered["expected"]["dup_rows"] + sum(
            f["dup_rows"] for f in self.inc_files.values()), "pk dedup count")
        files = Sink(self.path("sink0")).files()
        metrics["etl.sink_partitions"] = (len({os.path.dirname(f) for f in files}), "count")
        metrics["etl.sink_files"] = (len(files), "count")
        metrics["etl.sink_bytes"] = (sum(os.path.getsize(f) for f in files), "B")

        data = [p for p in tail["progress"] if p["rows"] > 0]

        def med(key):
            return statistics.median(p["duration"].get(key, 0.0) for p in data)

        landed, vis = tail["landed"], sorted(tail["visible"])
        metrics.update({
            "stream.triggers": (len(data), "count"),
            "stream.files_per_trigger": (len(self.tail_files) / len(data), "files"),
            "stream.trigger_p50_s": (med("triggerExecution"), "s"),
            "stream.latest_offset_s": (med("latestOffset"), "s"),
            "stream.query_planning_s": (med("queryPlanning"), "s"),
            "stream.add_batch_s": (med("addBatch"), "s"),
            "stream.wal_commit_s": (med("walCommit"), "s"),
            "stream.backlog_max_files": (max(i + 1 - sum(v <= t for v in vis)
                                             for i, t in enumerate(landed)), "files"),
            "stream.gen_late_max_s": (max(a - d for a, d in zip(landed, tail["due"])), "s"),
        })
        units = {"jobs": "count", "stages": "count", "tasks": "count", "task_skew": "ratio"}
        for k, v in spark.items():
            metrics[f"spark.{k}"] = (v, units.get(k, "B" if k.endswith("bytes") else "s"))
        metrics["spark.st_mt_ratio"] = (st_s / mt_s, "ratio")
        metrics["jvm.heap_peak_mb"] = (heap, "MB")
        metrics["trace.overhead_frac"] = (statistics.median(traced) / statistics.median(plain) - 1, "ratio")

        out = os.path.join(os.getcwd(), ".bench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace_{self.args.workload}_s{self.args.seed}.json"), "w") as fh:
            json.dump({"spans": spans, "spark": spark, "progress": tail["progress"]}, fh)
        return metrics


def tail_files(wl, seconds):
    return max(1, int(seconds / wl["tail_gap_s"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    last_sink_dirs = wl["days"] + INCREMENTS + TAIL_PRIMERS + tail_files(wl, args.seconds)
    if wl["days"] <= LISTING_JOB_DIRS < last_sink_dirs:
        ap.error(f"--seconds {args.seconds} grows the {args.workload} sink to {last_sink_dirs} "
                 f"partitions, past the {LISTING_JOB_DIRS} it is meant to stay within")

    classpath = build.build()
    root = os.path.join(os.getcwd(), ".bench_run", f"{os.getpid()}")
    os.makedirs(root)
    run = Run(args, wl, classpath, root)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timeout = RUN_TIMEOUT_BASE_S + 2 * args.seconds + VISIBLE_TIMEOUT_S
    watchdog = threading.Timer(timeout, lambda: [j.proc.kill() for j in run.jvms])
    watchdog.daemon = True
    watchdog.start()
    correct, metrics = True, {}
    try:
        metrics = run.traced() if args.trace else run.end_to_end()
    except CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
        correct = False
        run.failed = max(run.failed, 1)
    except JvmError as e:
        for j in run.jvms:
            print(j.log_tail(), file=sys.stderr)
        print(f"pipeline call failed: {e}", file=sys.stderr)
        correct, metrics = False, {}
        run.failed = max(run.failed, 1)
    finally:
        watchdog.cancel()
        for j in run.jvms:
            j.close()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    want = {(m["name"], m["unit"]) for m in declared}
    got = {(k, u) for k, (_, u) in metrics.items()}
    if correct and got != want:
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(got ^ want)}")
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
