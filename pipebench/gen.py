"""Seeded generator of reference-shaped daily minute-bar CSVs.

Files follow FIXTURES.md A.1-A.5: `btcusd-YYYY-MM-DD.csv`, header
`Time,Open,...,Weighted_Price`, 1440 minute rows a day, about 67 % of them
all-null (the reference set keeps 346,394 of 1,053,608 rows), a 968-row
partial first day starting 07:52, one partially-null row that must be kept,
a few duplicated traded minutes for the primary-key dedup, and invalid file
names that must be ignored. Every expected value is computed here, from the
rows as written; none comes from the pipeline under test.

    python3 pipebench/gen.py --selfcheck      # cross-check against DuckDB
"""
import datetime as dt
import json
import os
import random
import re
import sys

HEADER = "Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price\n"
NULL_SHARE = 1 - 346394 / 1053608  # all-null minutes in the reference set
NAME_RE = re.compile(r"^btcusd-\d{4}-\d{2}-\d{2}\.csv$")
INVALID_NAMES = ("ethusd-{d}.csv", "btcusd-{y}-01-32.csv", "btcusd-{c}.csv")
DUP_EVERY = 5  # every 5th day repeats one traded minute with other values


def day_name(day):
    return f"btcusd-{day.isoformat()}.csv"


def _traded(rng, price):
    o = price
    c = max(0.5, o + rng.gauss(0, 0.004 * o))
    hi = max(o, c) * (1 + rng.random() * 0.002)
    lo = min(o, c) * (1 - rng.random() * 0.002)
    vol = rng.random() * 20
    return c, f"{o:.2f},{hi:.2f},{lo:.2f},{c:.2f},{vol:.8f},{vol * c:.8f},{(o + c) / 2:.8f}"


def write_day(path, day, rng, price, first_minute=0, partial_null=False, dup=False):
    """Writes one daily file; returns (expected stats, closing price)."""
    lines, kept, nulls = [HEADER], [], 0
    for m in range(first_minute, 1440):
        t = f"{m // 60:02d}:{m % 60:02d}:00"
        if partial_null and m == first_minute + 2:
            lines.append(f"{t},{price:.2f},,,,,,\n")
            kept.append(m)
        elif m > first_minute and rng.random() < NULL_SHARE:
            lines.append(t + ",,,,,,,\n")
            nulls += 1
        else:
            price, vals = _traded(rng, price)
            lines.append(f"{t},{vals}\n")
            kept.append(m)
    dups = 0
    if dup and kept:
        m = kept[len(kept) // 2]
        _, vals = _traded(rng, price)
        lines.append(f"{m // 60:02d}:{m % 60:02d}:00,{vals}\n")
        dups = 1
    tmp = path + ".part"
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.replace(tmp, path)
    base = dt.datetime.combine(day, dt.time())
    stats = {
        "rows": len(lines) - 1, "null_rows": nulls, "dup_rows": dups, "kept": len(kept),
        "min": (base + dt.timedelta(minutes=kept[0])).isoformat(sep=" ") if kept else None,
        "max": (base + dt.timedelta(minutes=kept[-1])).isoformat(sep=" ") if kept else None,
    }
    return stats, price


def write_days(dirpath, start, n_days, seed, partial_first=False, invalid=False):
    """Writes `n_days` consecutive days from `start` into `dirpath`.

    With `partial_first`, the first day is the 968-row partial day from 07:52
    and the second day carries the partially-null row. With `invalid`, three
    files whose names the pipeline must ignore are added. Returns the
    expected per-file stats of the valid files, keyed by file name."""
    os.makedirs(dirpath, exist_ok=True)
    rng = random.Random(seed)
    price, files = 4.0 + rng.random(), {}
    for i in range(n_days):
        day = start + dt.timedelta(days=i)
        first = 7 * 60 + 52 if partial_first and i == 0 else 0
        stats, price = write_day(
            os.path.join(dirpath, day_name(day)), day, rng, price, first,
            partial_null=partial_first and i == 1, dup=i % DUP_EVERY == DUP_EVERY - 1)
        files[day_name(day)] = stats
    if invalid:
        for pat in INVALID_NAMES:
            name = pat.format(d=start.isoformat(), y=start.year, c=start.strftime("%Y%m%d"))
            assert not is_valid_name(name)
            write_day(os.path.join(dirpath, name), start, rng, price)
    return files


def is_valid_name(name):
    if not NAME_RE.match(name):
        return False
    try:
        dt.date.fromisoformat(name[7:17])
        return True
    except ValueError:
        return False


def totals(files):
    """Sums per-file stats into the expected sink state."""
    kept = [f for f in files.values() if f["kept"]]
    return {
        "files": len(files),
        "rows": sum(f["rows"] for f in files.values()),
        "null_rows": sum(f["null_rows"] for f in files.values()),
        "dup_rows": sum(f["dup_rows"] for f in files.values()),
        "kept": sum(f["kept"] for f in files.values()),
        "min": min(f["min"] for f in kept) if kept else None,
        "max": max(f["max"] for f in kept) if kept else None,
    }


def duckdb_totals(dirpath):
    """The same totals, computed by DuckDB from the files on disk."""
    import duckdb
    names = sorted(n for n in os.listdir(dirpath) if is_valid_name(n))
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE raw AS SELECT filename AS f, * FROM read_csv(
        {[os.path.join(dirpath, n) for n in names]!r}, header=true, filename=true,
        columns={{'Time':'VARCHAR','Open':'DOUBLE','High':'DOUBLE','Low':'DOUBLE',
        'Close':'DOUBLE','Volume_(BTC)':'DOUBLE','Volume_(Currency)':'DOUBLE',
        'Weighted_Price':'DOUBLE'}})""")
    rows, nulls = con.execute("""SELECT count(*), count(*) FILTER (WHERE coalesce(
        "Open","High","Low","Close","Volume_(BTC)","Volume_(Currency)","Weighted_Price")
        IS NULL) FROM raw""").fetchone()
    kept, distinct, lo, hi = con.execute("""WITH k AS (SELECT CAST(regexp_extract(f,
        'btcusd-(\\d{4}-\\d{2}-\\d{2})', 1) AS DATE) + CAST("Time" AS TIME) AS ts FROM raw
        WHERE coalesce("Open","High","Low","Close","Volume_(BTC)","Volume_(Currency)",
        "Weighted_Price") IS NOT NULL)
        SELECT count(*), count(DISTINCT ts), min(ts), max(ts) FROM k""").fetchone()
    return {"files": len(names), "rows": rows, "null_rows": nulls, "dup_rows": kept - distinct,
            "kept": distinct, "min": str(lo), "max": str(hi)}


def selfcheck(tmp, seed=7, n_days=130):
    exp = totals(write_days(tmp, dt.date(2011, 12, 31), n_days, seed, partial_first=True, invalid=True))
    got = duckdb_totals(tmp)
    print(json.dumps({"generator": exp, "duckdb": got}))
    return exp == got


if __name__ == "__main__":
    if sys.argv[1:2] != ["--selfcheck"]:
        sys.exit(__doc__)
    import tempfile
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as d:
        ok = selfcheck(d)
    print("selfcheck", "ok" if ok else "MISMATCH")
    sys.exit(0 if ok else 1)
