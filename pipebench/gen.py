"""Seeded input generator for the pipeline benchmark.

Writes one parquet file of raw daily OHLCV bars per fetch day, laid out as
`raw/ds=<day>/part-0.parquet`, plus `labels.json`, which records the
workload's fixed parameters and, per day, the data-quality violations that
were injected. The same (workload, seed, days) always gives the same bytes.

Every ticker has a bar on every day, so a 7-row trailing window is also the
reference's 8-calendar-day window. Each injected violation sits on a
different ticker's first bar of the day, so every bad row breaks exactly one
DQ check and survives the (ticker, date) dedup that keeps the earliest
`event_ts`. Duplicate bars come later in `event_ts` and carry other prices.
"""

import datetime as dt
import decimal
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WHITELIST = ["AAPL", "AMZN", "NFLX", "GOOGL", "META"]
FIRST_DAY = dt.date(2024, 1, 1)

# Per workload: ticker count (whitelist included), duplicate-bar rate, the
# per-day DQ violation mix, set-up history depth, untimed warm-up days after
# the cold one, and the loop's day budget as `base + per_second * seconds`
# (the loop stops early if it runs out).
WORKLOADS = {
    "dag_daily": dict(
        tickers=8, dup_rate=0.25, null_ohlc=1, bad_ohlc=1, nonpos_volume=1,
        # its day time keeps falling for about eight days as the JIT
        # settles, so it warms up longest
        wrong_date=1, history_days=0, history_chunk=0, warmup_days=6,
        days_base=12, days_per_second=4),
    "sql_backfill": dict(
        tickers=10000, dup_rate=0.05, null_ohlc=7, bad_ohlc=5,
        nonpos_volume=3, wrong_date=11, history_days=0, history_chunk=0,
        warmup_days=2, days_base=8, days_per_second=1),
    "history_serve": dict(
        tickers=1000, dup_rate=0.0, null_ohlc=0, bad_ohlc=0, nonpos_volume=0,
        wrong_date=0, history_days=12, history_chunk=4,
        # its day time still falls for a few days after the cold one
        warmup_days=3, days_base=6, days_per_second=1,
        # the reads after each commit (so 8 reads per commit): one fixed
        # cycle, so every run pools the same kinds in the same proportions;
        # only the keys read are drawn from the seed
        read_cycle=["point", "range", "version", "history",
                    "point", "range", "partitions", "mview"]),
}

RAW_SCHEMA = pa.schema([
    ("ticker", pa.string()), ("date", pa.date32()),
    ("open", pa.float64()), ("high", pa.float64()),
    ("low", pa.float64()), ("close", pa.float64()),
    ("volume", pa.int64()), ("vwap", pa.float64()),
    ("event_ts", pa.int64()), ("transactions", pa.int32()),
])


def ticker_names(n):
    return WHITELIST + [f"T{i:05d}" for i in range(n - len(WHITELIST))]


def day_count(params, seconds):
    return params["history_days"] + params["days_base"] + \
        params["days_per_second"] * seconds


def _bars(rng, price, day, names, ts_offset):
    """One bar per ticker from yesterday's close `price` (in cents)."""
    n = len(names)
    close = np.maximum(100, np.round(price * np.exp(rng.normal(0, 0.02, n))))
    open_ = np.maximum(100, np.round(price * np.exp(rng.normal(0, 0.01, n))))
    top = np.maximum(open_, close)
    bottom = np.minimum(open_, close)
    high = top + 1 + np.floor(top * rng.uniform(0, 0.02, n))
    low = np.maximum(1, bottom - 1 - np.floor(bottom * rng.uniform(0, 0.02, n)))
    volume = rng.integers(100_000, 10_000_000, n)
    vwap = np.round((open_ + high + low + close) / 4)
    midnight = int(dt.datetime.combine(day, dt.time(), dt.timezone.utc)
                   .timestamp() * 1000)
    return dict(ticker=list(names), date=[day] * n,
                open=open_ / 100, high=high / 100, low=low / 100,
                close=close / 100, volume=volume, vwap=vwap / 100,
                event_ts=midnight + ts_offset + np.arange(n),
                transactions=(volume // 100).astype(np.int32)), close


def _table(cols, null_open=()):
    mask = np.zeros(len(cols["ticker"]), dtype=bool)
    mask[list(null_open)] = True
    arrays = []
    for field in RAW_SCHEMA:
        v = cols[field.name]
        if field.name == "open":
            arrays.append(pa.array(v, type=field.type, mask=mask))
        else:
            arrays.append(pa.array(v, type=field.type))
    return pa.Table.from_arrays(arrays, schema=RAW_SCHEMA)


def _concat(parts):
    return {k: np.concatenate([np.asarray(p[k], dtype=object if k in
                                          ("ticker", "date") else None)
                               for p in parts]) for k in parts[0]}


def generate(workload, seed, seconds, out_dir):
    """Write the inputs of one run under `out_dir`; return the labels."""
    params = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    names = ticker_names(params["tickers"])
    n = len(names)
    off_whitelist = np.array([t not in WHITELIST for t in names])
    price = rng.integers(1_000, 50_000, n).astype(np.float64)
    days, closes, volumes = [], [], []
    for i in range(day_count(params, seconds)):
        day = FIRST_DAY + dt.timedelta(days=i)
        primary, close = _bars(rng, price, day, names, 0)
        price = close
        pick = rng.permutation(n)
        k = [params[c] for c in
             ("null_ohlc", "bad_ohlc", "nonpos_volume", "wrong_date")]
        null_rows = pick[:k[0]]
        bad_rows = pick[k[0]:k[0] + k[1]]
        vol_rows = pick[k[0] + k[1]:k[0] + k[1] + k[2]]
        primary["high"][bad_rows], primary["low"][bad_rows] = \
            primary["low"][bad_rows].copy(), primary["high"][bad_rows].copy()
        primary["volume"][vol_rows] = 0
        closes.append(np.round(primary["close"] * 100).astype(np.int64))
        volumes.append(primary["volume"].astype(np.int64))
        parts = [primary]
        # duplicates: later event_ts and different prices, so a dedup
        # that kept the wrong bar would change the cumulative checksum
        dup_idx = np.sort(rng.choice(n, int(round(params["dup_rate"] * n)),
                                     replace=False))
        if len(dup_idx):
            dup, _ = _bars(rng, price[dup_idx], day,
                           [names[j] for j in dup_idx], 3_600_000)
            parts.append(dup)
        # wrong-date rows: a bar stamped with the previous day, fetched
        # today; it must be counted by DQ and never promoted
        wrong = rng.choice(n, k[3], replace=False)
        if len(wrong):
            prev = day - dt.timedelta(days=1)
            late, _ = _bars(rng, price[wrong], prev,
                            [names[j] for j in wrong], 7_200_000)
            parts.append(late)
        cols = _concat(parts) if len(parts) > 1 else primary
        path = os.path.join(out_dir, "raw", f"ds={day.isoformat()}")
        os.makedirs(path, exist_ok=True)
        pq.write_table(_table(cols, null_rows), os.path.join(path, "part-0.parquet"))
        days.append(dict(
            ds=day.isoformat(), tickers=n,
            off_whitelist=int(off_whitelist.sum()),
            null_ohlc=int(k[0]), bad_ohlc=int(k[1]), nonpos_volume=int(k[2]),
            wrong_date=int(k[3]),
            wrong_date_off_whitelist=int(off_whitelist[wrong].sum())))
    labels = dict(workload=workload, seed=seed, params=params,
                  whitelist=WHITELIST, days=days)
    if "read_cycle" in params:
        labels["reads"] = read_plan(
            np.random.default_rng([seed, 7]), params, names,
            np.array(closes), np.array(volumes))
    with open(os.path.join(out_dir, "labels.json"), "w") as f:
        json.dump(labels, f, indent=1)
    return labels


def _money(cents):
    return f"{int(cents) // 100}.{int(cents) % 100:02d}"


def read_plan(rng, params, names, closes, volumes):
    """Per serving day, the reads to make after that day's commit and the
    answers the generated bars imply. `closes` and `volumes` are indexed
    [day, ticker]; serving day i commits day `history_days + i`."""
    h, chunk = params["history_days"], params["history_chunk"]
    n_days, n = volumes.shape
    plan = []
    for i in range(n_days - h):
        loaded = h + i + 1
        reads = []
        for kind in params["read_cycle"]:
            t = int(rng.integers(n))
            r = dict(kind=kind, ticker=names[t])
            if kind == "point":
                d = int(rng.integers(loaded))
                r.update(day=d, close=_money(closes[d, t]),
                         volume=int(volumes[d, t]))
            elif kind == "range":
                a = int(rng.integers(h - 9))
                avgs = []
                for d in range(a, a + 10):
                    w = volumes[max(0, d - 6):d + 1, t]
                    avg = (decimal.Decimal(int(w.sum())) / len(w)).quantize(
                        decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP)
                    avgs.append(str(avg))
                r.update(day=a, avg_7_day_volume=avgs)
            elif kind in ("version", "history"):
                c = int(rng.integers(h // chunk))
                days = (c + 1) * chunk
                r.update(chunk=c, n_days=days,
                         volume=int(volumes[:days, t].sum()))
            elif kind == "partitions":
                r.update(day=int(rng.integers(loaded)), n_rows=n)
            elif kind == "mview":
                r.update(n_days=loaded, volume=int(volumes[:loaded, t].sum()))
            reads.append(r)
        plan.append(reads)
    return plan
