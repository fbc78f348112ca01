"""Seeded generator of trade-reconciliation inputs with expected outcomes.

Writes the three CSVs `TradePipeline.run` reads (trades, counterparty fills,
symbol reference) plus `expected.json`, the outcome every trade must have
under the reference semantics. The quality-issue mix follows FIXTURES.md
A1-A3 and A5: full-row duplicates, CANCELLED trades, four timestamp shapes
(one malformed), unknown and inactive symbols, empty and bad quantity or
price values, and fills with empty fields and price deltas on the 0.01
threshold edge.

The expected outcome is computed here, from the generator's own choices,
with the same IEEE double arithmetic the engine uses; it never reads the
engine's output.
"""
import csv
import json
import os
import random
import re
from datetime import datetime, timedelta, timezone

SYMBOLS = [
    ("AAPL", "Apple Inc.", "Technology", "true"),
    ("MSFT", "Microsoft Corp.", "Technology", "true"),
    ("GOOGL", "Alphabet Inc.", "Technology", "true"),
    ("AMZN", "Amazon.com Inc.", "Consumer", "true"),
    ("TSLA", "Tesla Inc.", "Automotive", "true"),
    ("META", "Meta Platforms Inc.", "Technology", "true"),
    ("NVDA", "NVIDIA Corp.", "Technology", "true"),
    ("JPM", "JPMorgan Chase & Co.", "Financials", "true"),
    ("V", "Visa Inc.", "Financials", "true"),
    ("OLDCO", "Old Company Ltd.", "Industrials", "false"),
]
VALID = [s[0] for s in SYMBOLS if s[3] == "true"]
ACTIVE = {s[0]: s[3] for s in SYMBOLS}
THRESHOLD = 0.01

TRADE_COLS = ["trade_id", "timestamp", "symbol", "quantity", "price",
              "buyer_id", "seller_id", "trade_status"]
FILL_COLS = ["external_ref_id", "our_trade_id", "timestamp", "symbol",
             "quantity", "price", "counterparty_id"]

_INT = re.compile(r"^-?\d+$")
_DEC = re.compile(r"^-?\d+(\.\d+)?$")
_EPOCH0 = datetime(2024, 1, 2, tzinfo=timezone.utc)


def _as_int(s):
    """The engine's `try_cast(... AS INT)` on the strings generated here."""
    if s is None or not _INT.match(s):
        return None
    v = int(s)
    return v if -2**31 <= v < 2**31 else None


def _as_double(s):
    """The engine's `try_cast(... AS DOUBLE)` on the strings generated here."""
    return float(s) if s is not None and _DEC.match(s) else None


def _below(rng, n):
    """A uniform integer in [0, n); cheaper than `randrange` per call."""
    return int(rng.random() * n)


def _between(rng, lo, hi):
    return lo + _below(rng, hi - lo + 1)


def _timestamp(rng, shape):
    t = _EPOCH0 + timedelta(seconds=_below(rng, 30 * 86400))
    if shape == "iso":
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % _below(rng, 1000)
    if shape == "epoch":
        return str(int(t.timestamp()))
    us = "%d/%d/%d %d:%02d" % (t.month, t.day, t.year, t.hour, t.minute)
    if shape == "us":
        return us + ":%02d" % t.second
    # malformed: a one-digit second, which no branch of the engine's
    # timestamp dispatch parses
    return us + ":%d" % _below(rng, 10)


def _pick(rng, weighted):
    r = rng.random()
    for value, w in weighted:
        r -= w
        if r < 0:
            return value
    return weighted[-1][0]


def _quantity(rng):
    kind = _pick(rng, [("empty", 0.014), ("zero", 0.003), ("neg", 0.003),
                       ("text", 0.003), ("ok", 1.0)])
    if kind == "empty":
        return ""
    if kind == "zero":
        return "0"
    if kind == "neg":
        return "-%d" % _between(rng, 1, 500)
    if kind == "text":
        return "abc"
    return str(_between(rng, 1, 1000))


def _price(rng):
    kind = _pick(rng, [("empty", 0.029), ("zero", 0.003), ("neg", 0.003),
                       ("text", 0.003), ("long", 0.094), ("int", 0.01),
                       ("ok", 1.0)])
    cents = _between(rng, 1000, 50000)
    if kind == "empty":
        return ""
    if kind == "zero":
        return "0.00"
    if kind == "neg":
        return "-%d.%02d" % divmod(cents, 100)
    if kind == "text":
        return "N/A"
    if kind == "long":
        return "%d.%02d999999" % divmod(cents, 100)
    if kind == "int":
        return str(cents // 100)
    return "%d.%02d" % divmod(cents, 100)


def _fill_price(rng, trade_price):
    tp = _as_double(trade_price)
    if tp is None or tp <= 0:
        return "%.2f" % (_between(rng, 1000, 50000) / 100)
    delta = _pick(rng, [(0.0, 0.55), (0.01, 0.15), (-0.01, 0.1),
                        (0.011, 0.1), (-0.011, 0.05), (1.25, 1.0)])
    return "%.3f" % (round(tp, 2) + delta)


def generate_batch(rng, n_trades, id_prefix):
    """One batch: (trade rows, fill rows, expected outcome dict)."""
    trades, fills = [], []
    expected = {"exceptions": {}}
    successful = invalid = cancelled = discrepant = missing_ts = 0
    for i in range(n_trades):
        tid = "%s%07d" % (id_prefix, i)
        symbol = _pick(rng, [("INVALID_SYM", 0.106), ("OLDCO", 0.01), (None, 1.0)])
        symbol = symbol or VALID[_below(rng, len(VALID))]
        shape = _pick(rng, [("iso", 0.6), ("epoch", 0.2), ("us", 0.14), ("bad", 1.0)])
        row = [tid, _timestamp(rng, shape), symbol, _quantity(rng), _price(rng),
               "BUY%d" % _below(rng, 500), "SEL%d" % _below(rng, 500),
               "CANCELLED" if rng.random() < 0.2 else "EXECUTED"]
        trades.append(row)
        fill = None
        if rng.random() < 0.63:
            fq = row[3] if rng.random() < 0.85 else str(_between(rng, 1, 1000))
            fp = _fill_price(rng, row[4])
            empty = _pick(rng, [("both", 0.008), ("qty", 0.018), ("price", 0.024),
                                (None, 1.0)])
            if empty in ("both", "qty"):
                fq = ""
            if empty in ("both", "price"):
                fp = ""
            fsym = symbol if rng.random() < 0.7 else VALID[_below(rng, len(VALID))]
            fill = ["EXT%s" % tid, tid, _timestamp(rng, "iso"), fsym, fq, fp,
                    "CP%d" % _below(rng, 50)]
            fills.append(fill)
        if row[7] == "CANCELLED":
            cancelled += 1
            continue
        codes = []
        if ACTIVE.get(symbol) != "true":
            codes.append("SYMBOL_INVALID")
        q, p = _as_int(row[3]), _as_double(row[4])
        if q is None or q <= 0:
            codes.append("QUANTITY_INVALID")
        if p is None or p <= 0:
            codes.append("PRICE_INVALID")
        if codes:
            invalid += 1
            expected["exceptions"][tid] = ", ".join(codes)
            continue
        successful += 1
        if shape == "bad":
            missing_ts += 1
        if fill is not None:
            cq, cp = _as_int(fill[4] or None), _as_double(fill[5] or None)
            if (cq is not None or cp is not None) and (
                    (cq is not None and cq != q)
                    or (cp is not None and abs(cp - p) > THRESHOLD)
                    or fill[3] != symbol):
                discrepant += 1
    # full-row duplicates: about 9% of all rows
    n_dups = round(0.09 * n_trades / 0.91)
    trades += [list(trades[_below(rng, n_trades)]) for _ in range(n_dups)]
    rng.shuffle(trades)
    rng.shuffle(fills)
    expected.update(
        metrics=[len(trades), n_dups, cancelled, successful, invalid, discrepant],
        cleaned=successful, missing_timestamp=missing_ts)
    return trades, fills, expected


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def write_batches(out_dir, seed, n_batches, n_trades):
    """Writes `n_batches` batch directories under `out_dir`; returns their paths."""
    rng = random.Random("trades-%d" % seed)
    dirs = []
    for b in range(n_batches):
        d = os.path.join(out_dir, "batch_%02d" % b)
        os.makedirs(d, exist_ok=True)
        trades, fills, expected = generate_batch(rng, n_trades, "T%02d" % b)
        _write_csv(os.path.join(d, "trades.csv"), TRADE_COLS, trades)
        _write_csv(os.path.join(d, "counterparty_fills.csv"), FILL_COLS, fills)
        _write_csv(os.path.join(d, "symbols_reference.csv"),
                   ["symbol", "company_name", "sector", "is_active"], SYMBOLS)
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(expected, f, sort_keys=True)
        dirs.append(d)
    return dirs
