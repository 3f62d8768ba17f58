"""Seeded raw-universe generator for the medallion workload.

Writes one stooq-format TXT file per ticker under `<out>/raw/<exchange>/`,
with the reference's header line and comma-delimited fields:

    <TICKER>,<PER>,<DATE>,<TIME>,<OPEN>,<HIGH>,<LOW>,<CLOSE>,<VOL>,<OPENINT>

History lengths are heavy-tailed (Pareto), like a real listing universe.
A seeded share of the lines is dirty. Each dirty line carries exactly one
designed defect, chosen so that it raises a known set of Bronze quality
flags, and defects are spaced so that no two interact. The generator
therefore knows every flag count Bronze must report (`expected.json`) and
the exact bar frame of the valid rows (`input_bars.parquet`, the input of
the oracle SQL).
"""
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HEADER = "<TICKER>,<PER>,<DATE>,<TIME>,<OPEN>,<HIGH>,<LOW>,<CLOSE>,<VOL>,<OPENINT>"

# defect -> Bronze flags it raises on each line it emits
DEFECTS = {
    "short_line": ["q_parse_error"],
    "long_line": ["q_parse_error"],
    "missing_close": ["q_missing_field"],
    "weekly_period": ["q_bad_timeframe"],
    "zero_prices": ["q_nonpositive_price"],
    "swapped_high_low": ["q_high_lt_low", "q_ohlc_outside_hl"],
    "close_above_high": ["q_ohlc_outside_hl"],
    "negative_volume": ["q_negative_volume"],
    "duplicate_date": ["q_duplicate_ticker_date"],
    "wide_range": ["q_suspicious_bar"],
    "calendar_gap": ["q_gap_in_calendar"],
}
HARD = {"q_parse_error", "q_missing_field", "q_bad_timeframe",
        "q_nonpositive_price", "q_high_lt_low", "q_ohlc_outside_hl",
        "q_negative_volume", "q_duplicate_ticker_date"}
FLAGS = sorted(HARD | {"q_suspicious_bar", "q_gap_in_calendar"})

END_DATE = datetime.date(2024, 12, 31)
EPOCH = datetime.date(1970, 1, 1)


def _ticker_names(rng, n):
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    names = set()
    while len(names) < n:
        names.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(2, 5))))
    return sorted(names)


def _lengths(rng, target_bars, min_len=60, max_len=300):
    """Heavy-tailed (Pareto) history lengths, one per ticker, drawn until
    they sum to `target_bars`, so every seed has the same bar count."""
    out, left = [], target_bars
    while left > 0:
        n = min(max_len, int(min_len * rng.paretovariate(1.1)), left)
        out.append(max(n, min(min_len, left)))
        left -= out[-1]
    return out


def _calendar(n_days, gaps):
    """Business days ending at END_DATE. Each index in `gaps` is preceded by
    six skipped business days, a gap of at least eight calendar days, over
    the seven-day warning threshold."""
    out = []
    d = END_DATE
    i = n_days - 1
    while i >= 0:
        if d.weekday() < 5:
            out.append(d)
            if i in gaps:
                skipped = 0
                while skipped < 6:
                    d -= datetime.timedelta(days=1)
                    if d.weekday() < 5:
                        skipped += 1
            i -= 1
        d -= datetime.timedelta(days=1)
    return out[::-1]


def _fmt(x):
    return f"{x:.4f}"


def generate(out, seed, target_bars, dirty_share=0.02):
    rng = random.Random(seed)
    lengths = _lengths(rng, target_bars)
    n_tickers = len(lengths)
    names = _ticker_names(rng, n_tickers)
    flags = {f: 0 for f in FLAGS}
    bars = {k: [] for k in ("ticker", "bar_ts", "bar_id", "open", "high",
                            "low", "close", "volume")}
    n_lines = 0
    defect_names = sorted(DEFECTS)
    for name, n in zip(names, lengths):
        ticker = f"{name}.US"
        exchange = "nasdaq" if rng.random() < 0.5 else "nyse"
        # defects land on days >= 2 and never on adjacent days
        plan = {}
        i = 2
        while i < n - 1:
            if rng.random() < dirty_share:
                plan[i] = rng.choice(defect_names)
                i += 2
            else:
                i += 1
        days = _calendar(n, {i for i, d in plan.items()
                             if d == "calendar_gap"})
        price = rng.uniform(5.0, 300.0)
        lines = [HEADER]
        for i, day in enumerate(days):
            prev = price
            price = max(1.0, price * (1.0 + rng.gauss(0.0, 0.02)))
            o = round(prev * (1.0 + rng.gauss(0.0, 0.005)), 4)
            c = round(price, 4)
            h = round(max(o, c) * (1.0 + rng.uniform(0.001, 0.02)), 4)
            lo = round(min(o, c) * (1.0 - rng.uniform(0.001, 0.02)), 4)
            v = rng.randint(10_000, 5_000_000)
            date = day.strftime("%Y%m%d")
            defect = plan.get(i)
            if defect == "wide_range":
                h = round(c * 1.6, 4)
                lo = round(min(o, c) * 0.97, 4)
            f = [ticker, "D", date, "000000", _fmt(o), _fmt(h), _fmt(lo),
                 _fmt(c), str(v), "0"]
            if defect == "short_line":
                f = f[:9]
            elif defect == "long_line":
                f = f + ["0"]
            elif defect == "missing_close":
                f[7] = ""
            elif defect == "weekly_period":
                f[1] = "W"
            elif defect == "zero_prices":
                f[4:8] = ["0", "0", "0", "0"]
            elif defect == "swapped_high_low":
                f[5], f[6] = f[6], f[5]
            elif defect == "close_above_high":
                f[7] = _fmt(h * 1.01)
            elif defect == "negative_volume":
                f[8] = "-100"
            line = ",".join(f)
            lines.append(line)
            emitted = 1
            if defect == "duplicate_date":
                lines.append(line)
                emitted = 2
            n_lines += emitted
            for flag in DEFECTS.get(defect, []):
                flags[flag] += emitted
            if not HARD.intersection(DEFECTS.get(defect, [])):
                days_since = (day - EPOCH).days
                bars["ticker"].append(ticker)
                bars["bar_ts"].append(days_since * 86_400_000_000)
                bars["bar_id"].append(days_since)
                bars["open"].append(float(f[4]))
                bars["high"].append(float(f[5]))
                bars["low"].append(float(f[6]))
                bars["close"].append(float(f[7]))
                bars["volume"].append(float(f[8]))
        if rng.random() < 0.2:
            lines.append("")
        d = os.path.join(out, "raw", exchange)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{ticker.lower()}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    flags["is_valid_row"] = len(bars["ticker"])
    flags["rows"] = n_lines
    pq.write_table(pa.table(bars), os.path.join(out, "input_bars.parquet"))
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump({"lines": n_lines, "files": n_tickers, "bronze": flags},
                  fh, sort_keys=True)
    return n_lines
