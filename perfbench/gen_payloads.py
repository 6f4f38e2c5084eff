"""Seeded generator of Alpha-Vantage-shaped payload batches, with expected counts.

One backfill batch is followed by compact re-fetches. Every batch holds, per
symbol, a daily (`Time Series (Daily)`), a 5-minute intraday
(`Time Series (5min)`) and an SMA (`Technical Analysis: SMA`) payload. A
re-fetch repeats the last bars of each series and adds the newest ones, so
most of it overlaps what is already stored.

The generator injects the edge rows of FIXTURES.md at fixed shares:

- keys like `2025-12-01 08:00` (minutes, no seconds) in intraday and SMA
  payloads, which the normalizer drops;
- a bar with a non-numeric volume and a bar with a missing field, dropped;
- volumes above 2^31, which must load as BIGINT;
- SMA payloads keyed by date only (`yyyy-MM-dd`) for half of the symbols;
- a duplicated payload in the backfill, deduplicated on the primary key;
- `Error Message` and rate-limit `Note` envelopes, which carry no bars.

It then replays the engine's load rules (strict key formats, drop any bar
with an unparseable field, insert a primary key only once) to give, for every
batch, the rows each table should gain, the bars rejected per endpoint, the
envelopes, and the latest ten daily bars of one symbol after the batch.
"""
import datetime as dt
import json
import os
import random

ENDPOINTS = ("daily", "intraday", "sma")
SERIES_KEY = {"daily": "Time Series (Daily)",
              "intraday": "Time Series (5min)",
              "sma": "Technical Analysis: SMA"}
TABLE = {"daily": "daily_stock_prices",
         "intraday": "intraday_stock_prices",
         "sma": "sma_indicators"}

# Shape of one workload, from the reference's recorded traffic (BASELINE.md):
# 10 symbols x 3 endpoints, each fetch "compact", i.e. the newest 100 bars.
# The backfill is the first compact fetch. A re-fetch comes one trading day
# later: its 100-bar window holds `STEP[e]` new bars, one day of daily and
# SMA bars and the 78 five-minute bars of a regular session: 80 new rows
# per symbol, of 300 offered.
N_SYMBOLS = 10
BACKFILL = {"daily": 100, "intraday": 100, "sma": 100}
WINDOW = {"daily": 100, "intraday": 100, "sma": 100}
STEP = {"daily": 1, "intraday": 78, "sma": 1}
# Injected faults, as shares of the payloads of a batch.
BAD_KEY_SHARE = 0.25      # intraday and SMA payloads with a minutes-only key
BAD_VOLUME_SHARE = 0.2    # daily and intraday payloads with a non-numeric volume
MISSING_FIELD_SHARE = 0.2  # daily and intraday payloads with a bar lacking "2. high"
BIG_VOLUME_SHARE = 0.2    # daily payloads with a bar whose volume exceeds 2^31
ENVELOPES_PER_BATCH = 2   # one error and one rate-limit envelope per batch
READBACK_ROWS = 10


def _symbols(rng, n):
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                        for _ in range(rng.choice((3, 4)))))
    return sorted(out)


def _trading_days(start, n):
    days, d = [], start
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _five_minute_bars(days, n):
    """The first `n` regular-session 5-minute stamps (09:30-15:55) of `days`."""
    out = []
    for d in days:
        t = dt.datetime(d.year, d.month, d.day, 9, 30)
        for _ in range(78):
            out.append(t)
            t += dt.timedelta(minutes=5)
            if len(out) == n:
                return out
    return out


class _Series:
    """One symbol's full price history; re-fetched bars repeat their values."""

    def __init__(self, rng, symbol, n_days, n_intraday, date_only_sma):
        self.symbol = symbol
        days = _trading_days(dt.date(2025, 6, 2), n_days)
        stamps = _five_minute_bars(days, n_intraday)
        self.keys = {
            "daily": [d.isoformat() for d in days],
            "intraday": [t.strftime("%Y-%m-%d %H:%M:%S") for t in stamps],
            "sma": [d.isoformat() if date_only_sma else d.isoformat() + " 00:00:00"
                    for d in days],
        }
        self.values = {e: [self._bar(rng, e) for _ in self.keys[e]] for e in ENDPOINTS}

    @staticmethod
    def _bar(rng, endpoint):
        if endpoint == "sma":
            return {"SMA": f"{rng.uniform(20, 500):.4f}"}
        o = rng.uniform(20, 500)
        h, lo = o * rng.uniform(1.0, 1.03), o * rng.uniform(0.97, 1.0)
        c = rng.uniform(lo, h)
        return {"1. open": f"{o:.4f}", "2. high": f"{h:.4f}", "3. low": f"{lo:.4f}",
                "4. close": f"{c:.4f}", "5. volume": str(rng.randint(10_000, 90_000_000))}


def _pk(endpoint, key):
    """The stored primary-key time of a valid key (SMA dates become midnight)."""
    if endpoint == "sma" and len(key) == 10:
        return key + " 00:00:00"
    return key


def generate(seed, n_batches, n_symbols=N_SYMBOLS):
    """Backfill plus `n_batches` re-fetches, each with its expected outcome."""
    rng = random.Random(seed)
    symbols = _symbols(rng, n_symbols)
    length = {e: BACKFILL[e] + STEP[e] * n_batches for e in ENDPOINTS}
    series = {s: _Series(rng, s, length["daily"], length["intraday"], i % 2 == 0)
              for i, s in enumerate(symbols)}
    stored = {e: {} for e in ENDPOINTS}  # endpoint -> {(symbol, pk): close/sma}
    companies = set()
    batches = []
    for b in range(n_batches + 1):
        payloads = {e: [] for e in ENDPOINTS}
        exp = {"rejected": {e: 0 for e in ENDPOINTS},
               "accepted": {e: 0 for e in ENDPOINTS},
               "envelopes": 0}
        fetches = [(s, e) for s in symbols for e in ENDPOINTS]
        enveloped = dict(zip(rng.sample(fetches, ENVELOPES_PER_BATCH),
                             ("Error Message", "Note")))
        fresh = {e: {} for e in ENDPOINTS}
        batch_symbols = set()
        for s, e in fetches:
            if (s, e) in enveloped:
                kind = enveloped[(s, e)]
                text = ("Invalid API call. Please retry or visit the documentation."
                        if kind == "Error Message" else
                        "Thank you for using Alpha Vantage! Our standard API rate "
                        "limit is 25 requests per day.")
                payloads[e].append({kind: text})
                exp["envelopes"] += 1
                continue
            end = BACKFILL[e] + STEP[e] * b
            start = 0 if b == 0 else end - WINDOW[e]
            keys = series[s].keys[e][start:end]
            bars = {k: dict(v) for k, v in zip(keys, series[s].values[e][start:end])}
            bad = set()
            if e != "daily" and rng.random() < BAD_KEY_SHARE:
                last = dt.datetime.strptime(keys[-1][:10], "%Y-%m-%d")
                bars[last.strftime("%Y-%m-%d") + " 08:00"] = dict(
                    series[s].values[e][end - 1])
                bad.add(last.strftime("%Y-%m-%d") + " 08:00")
            if e != "sma":
                for share, fault in ((BAD_VOLUME_SHARE, "volume"),
                                     (MISSING_FIELD_SHARE, "missing")):
                    if rng.random() < share:
                        k = rng.choice([k for k in keys if k not in bad])
                        if fault == "volume":
                            bars[k]["5. volume"] = "not-a-number"
                        else:
                            bars[k].pop("2. high", None)
                        bad.add(k)
            if e == "daily" and rng.random() < BIG_VOLUME_SHARE:
                k = rng.choice([k for k in keys if k not in bad])
                bars[k]["5. volume"] = str(2 ** 31 + rng.randint(1, 10 ** 9))
            meta = ({"1: Symbol": s, "2: Indicator": "Simple Moving Average (SMA)"}
                    if e == "sma" else
                    {"1. Information": "Daily Prices" if e == "daily"
                     else "Intraday (5min) prices", "2. Symbol": s})
            doc = {"Meta Data": meta, SERIES_KEY[e]: bars}
            copies = 2 if b == 0 and e == "daily" and s == symbols[0] else 1
            for _ in range(copies):
                payloads[e].append(doc)
                exp["rejected"][e] += len(bad)
                exp["accepted"][e] += len(bars) - len(bad)
            for k, v in bars.items():
                if k in bad:
                    continue
                batch_symbols.add(s)
                pk = (s, _pk(e, k))
                if pk not in stored[e]:
                    fresh[e][pk] = v.get("4. close", v.get("SMA"))
        for e in ENDPOINTS:
            stored[e].update(fresh[e])
        inserted = {TABLE[e]: len(fresh[e]) for e in ENDPOINTS}
        inserted["companies"] = len(batch_symbols - companies)
        companies |= batch_symbols
        exp["inserted"] = inserted
        exp["table_rows"] = {TABLE[e]: len(stored[e]) for e in ENDPOINTS}
        exp["table_rows"]["companies"] = len(companies)
        reader = rng.choice(symbols)
        latest = sorted(((k[1], v) for k, v in stored["daily"].items() if k[0] == reader),
                        reverse=True)[:READBACK_ROWS]
        exp["readback"] = {"symbol": reader,
                           "rows": [[d, close] for d, close in latest]}
        batches.append({"name": "backfill" if b == 0 else f"refetch-{b:03d}",
                        "payloads": payloads, "expected": exp})
    return batches


def write(out_dir, seed, n_batches, n_symbols=N_SYMBOLS):
    """Write one JSONL file per batch and endpoint; return the batch list
    with payloads replaced by their file paths."""
    out = []
    for batch in generate(seed, n_batches, n_symbols):
        d = os.path.join(out_dir, batch["name"])
        os.makedirs(d, exist_ok=True)
        files = {}
        for e in ENDPOINTS:
            files[e] = os.path.join(d, f"{e}.jsonl")
            with open(files[e], "w") as f:
                for p in batch["payloads"][e]:
                    f.write(json.dumps(p) + "\n")
        out.append({"name": batch["name"], "files": files, "expected": batch["expected"]})
    return out
