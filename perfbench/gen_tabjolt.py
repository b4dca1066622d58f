"""Seeded TabJolt daily drop for the ``daily_report`` workload.

Writes the four delimited files the reference job loads
(FIXTURES.md §1-§4) and computes, in plain Python from the generated
records, what each of the nine report queries must return:

- ``performance_samples.csv``: JTL lines with a header. The join key
  ``response_message`` is ``Site: ..; Workbook: ..; View: ..;``. The file
  mixes in quoted-comma fields, ``null`` keys, keys without a site,
  non-numeric elapsed and timestamp values, a key whose every sample is 0,
  a key exactly +20% over its average today and a key exactly -40% under
  it in the last three days. About 1% of its lines are TabJolt console
  lines, which the load must reject.
- ``summary_line.csv``: Avg/Min/Max/Err per day, ``HISTORY_DAYS`` days
  up to the run date.
- ``wincounter.tsv`` and ``thread_details.tsv``: counter and thread
  rows of the run date, each with a few console lines.

``as_of`` is the generated run date; the queries are run with it in
place of ``CURRENT_DATE``.

    python3 perfbench/gen_tabjolt.py --seed 1 --out /path/dir
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone

import numpy as np

CONSOLE_LINE = "#{n}\tThreads: 5/5\tSamples: {s}\tLatency: 0\tResp.Time: {t}\tErrors: {e}"
PS_HEADER = "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,"
HISTORY_DAYS = 30
#: ``performance_samples`` data lines (header excluded), console lines included
LINES = 200_000
N_KEYS = 60
MALFORMED_FRAC = 0.01
KEY_PLUS20 = "Site: edge; Workbook: Boundary; View: Plus20;"
KEY_MINUS40 = "Site: edge; Workbook: Boundary; View: Minus40;"
KEY_ZERO = "Site: edge; Workbook: Idle; View: Zero;"
KEY_NULL = "Site: edge; Workbook: null; View: Broken;"
KEY_NOSITE = "Workbook: Orphan; View: Unscoped;"
KEY_COMMA = "Site: emea; Workbook: Sales, EMEA; View: Map;"
COUNTERS = (
    ("Network Interface", "Bytes Sent/sec", "Intel[R] Ethernet"),
    ("LogicalDisk", "% Free Space", "_Total"),
    ("Processor", "% Processor Time", "_Total"),
    ("Memory", "Available MBytes", ""),
)


@dataclass
class Drop:
    """One generated day: file paths, input line counts, the exact
    malformed count per file, and the expected query results."""

    as_of: str
    files: dict[str, str]
    lines: dict[str, int]
    malformed: dict[str, int]
    keys: int
    expected: dict[str, list]


def _csv(s: str) -> str:
    return f'"{s}"' if "," in s else s


def _ms(d: date) -> int:
    return int((datetime(d.year, d.month, d.day) - datetime(1970, 1, 1)).total_seconds()) * 1000


def _is_digits(s: str) -> bool:
    return s.isascii() and s.isdigit()


def _valid_key(rm: str) -> bool:
    low = rm.lower()
    return "site" in low and "null" not in low


def _with_console_lines(rng, good: list[str], n_bad: int) -> list[str]:
    bad = [
        CONSOLE_LINE.format(n=i, s=int(rng.integers(1, 9)), t=int(rng.integers(100, 9000)), e=int(rng.integers(0, 2)))
        for i in range(n_bad)
    ]
    out = np.empty(len(good) + n_bad, dtype=object)
    at = np.sort(rng.choice(len(out), n_bad, replace=False))
    mask = np.zeros(len(out), dtype=bool)
    mask[at] = True
    out[mask] = bad
    out[~mask] = good
    return list(out)


def _write(path: str, lines: list[str], header: str | None = None) -> None:
    with open(path, "w") as fh:
        if header is not None:
            fh.write(header + "\n")
        fh.write("\n".join(lines))
        fh.write("\n")


def _samples(rng, n_good: int, n_keys: int, as_of: date):
    """Columns (elapsed, ts, label, rm, trailing) of the good JTL rows."""
    day_ms = 86_400_000
    today = _ms(as_of)
    lo = today - HISTORY_DAYS * day_ms
    rows: list[tuple[str, str, str, str, str]] = []

    def add(key: str, elapsed: int | str, ts: int | str, label: str = "Interact Viz Test") -> None:
        rows.append((str(elapsed), str(ts), label, key, key))

    # exact boundary keys: their averages include the current samples
    for i, v in enumerate((950, 950, 950, 950)):
        add(KEY_PLUS20, v, today - (10 + i) * day_ms)
    add(KEY_PLUS20, 1200, today + 3_600_000)  # avg 1000 -> +20% exactly
    for i, v in enumerate((1066, 1066, 1067, 1067, 1067, 1067)):
        add(KEY_MINUS40, v, today - (12 + i) * day_ms)
    add(KEY_MINUS40, 600, today - day_ms + 7_200_000)  # avg 1000 -> -40% exactly
    for i in range(24):
        add(KEY_ZERO, 0, today - (i % 20) * day_ms + 60_000 * i)

    n_bulk = n_good - len(rows)
    names = [f"Site: site{k % 7}; Workbook: Workbook{k:03d}; View: View{k % 11};" for k in range(n_keys)]
    extra = [KEY_NULL, KEY_NOSITE, KEY_COMMA]
    weights = rng.dirichlet(np.full(n_keys + len(extra), 2.0))
    key_idx = rng.choice(n_keys + len(extra), n_bulk, p=weights)
    base = rng.uniform(800, 15000, n_keys + len(extra))
    elapsed = np.maximum(1, base[key_idx] * rng.lognormal(0.0, 0.35, n_bulk)).astype("int64")
    ts = rng.integers(lo, today + day_ms, n_bulk)
    kind = rng.random(n_bulk)
    all_keys = names + extra
    for i in range(n_bulk):
        key = all_keys[key_idx[i]]
        k = kind[i]
        if k < 0.05:  # bootstrap request: quoted-comma message without a site
            sid = int(rng.integers(0, 1 << 62))
            rows.append((str(elapsed[i]), str(ts[i]), "Bootstrap request",
                         f"Bootstrap sessionID:{sid:016X}-1:0, status:OK, isRetry:false", key))
        elif k < 0.055:
            add(key, "ERR", ts[i])
        elif k < 0.06:
            add(key, elapsed[i], "ERR")
        else:
            add(key, elapsed[i], ts[i])
    order = rng.permutation(len(rows))
    return [rows[i] for i in order]


def _expected(rows, summary, wc_ts: list[str], as_of: date) -> dict[str, list]:
    """The nine results, computed from the records with the queries'
    own arithmetic (IEEE doubles, truncating int casts)."""
    today = _ms(as_of)
    recent = today - 3 * 86_400_000
    total: dict[str, int] = {}
    count: dict[str, int] = {}
    today_rows, current, last3 = [], [], []
    for elapsed, ts, label, rm, _trail in rows:
        if not _valid_key(rm):
            continue
        num = _is_digits(elapsed)
        if num:
            total[rm] = total.get(rm, 0) + int(elapsed)
            count[rm] = count.get(rm, 0) + 1
        if not _is_digits(ts):
            continue
        t = int(ts)
        if t >= today:
            today_rows.append((int(elapsed) if num else None, "0", "true", label, rm))
            if num:
                current.append((rm, int(elapsed)))
        if t >= recent and num:
            last3.append((rm, int(elapsed)))
    avg = {k: total[k] / count[k] for k in total}

    def compare(samples, keep):
        out = []
        for rm, cur in samples:
            a = avg[rm]
            pct = None if a == 0 else ((cur - a) / a) * 100.0
            if keep(a, cur, pct):
                out.append((a, cur, rm, pct))
        return out

    avgs = [(d, v) for d, m, v in summary if m == "Avg"]
    by_metric = {m: v for d, m, v in summary if d == as_of.isoformat()}
    return {
        "summary_avg_today": [(by_metric["Avg"],)],
        "summary_max_today": [(by_metric["Max"],)],
        "summary_min_today": [(by_metric["Min"],)],
        "last_run_ts": [(max(wc_ts),)],
        "historic_avg": [(int(sum(float(v) for _, v in avgs) / len(avgs)),)],
        "trend_series": sorted(avgs),
        "samples_today": today_rows,
        "regressions": compare(current, lambda a, c, p: a < c),
        "improvements": compare(last3, lambda a, c, p: a > c and p is not None and p < -40.0),
    }


def generate(seed: int, out_dir: str) -> Drop:
    """Write one day's four files under ``out_dir``."""
    rng = np.random.default_rng([seed, 7])
    as_of = date(2024, 7, 1) + timedelta(days=int(rng.integers(0, 180)))
    os.makedirs(out_dir, exist_ok=True)
    files = {name: os.path.join(out_dir, f"{name}.{ext}") for name, ext in (
        ("wincounter", "tsv"), ("summary_line", "csv"), ("thread_details", "tsv"), ("performance_samples", "csv"))}
    lines: dict[str, int] = {}
    malformed: dict[str, int] = {}

    def emit(name: str, good: list[str], n_bad: int, header: str | None = None) -> None:
        out = _with_console_lines(rng, good, n_bad)
        _write(files[name], out, header)
        lines[name] = len(out)
        malformed[name] = n_bad

    n_bad = round(LINES * MALFORMED_FRAC)
    rows = _samples(rng, LINES - n_bad, N_KEYS, as_of)
    emit("performance_samples", [
        f"{e},0,{ts},true,{lb},200,{_csv(rm)},InteractVizThreadGroup 1-1,,{1000 + i % 9000},1,1,{_csv(tr)}"
        for i, (e, ts, lb, rm, tr) in enumerate(rows)
    ], n_bad, header=PS_HEADER)

    summary = []
    for back in range(HISTORY_DAYS, -1, -1):
        d = (as_of - timedelta(days=back)).isoformat()
        avg_v = int(rng.integers(4000, 16000))
        summary += [(d, "Avg", str(avg_v)), (d, "Min", str(avg_v - int(rng.integers(500, 3000)))),
                    (d, "Max", str(avg_v + int(rng.integers(500, 3000)))), (d, "Err", "0 0.00%")]
    emit("summary_line", [f"{m},{v},{d}" for d, m, v in summary], 2)

    n_wc = LINES // 100
    t0 = _ms(as_of)
    wc_ms = np.sort(rng.integers(t0, t0 + 86_400_000, n_wc))
    wc_ts = [datetime.fromtimestamp(ms / 1000, timezone.utc).strftime("%Y-%m-%d %H:%M:%S") for ms in wc_ms]
    wc = []
    for ms, ts in zip(wc_ms, wc_ts):
        grp, name, inst = COUNTERS[int(rng.integers(0, len(COUNTERS)))]
        wc.append(f"{ms}\tLOCALHOST\t{grp}\t{name}\t{inst}\t{rng.uniform(0, 1e6):.13g}\t{ts}")
    emit("wincounter", wc, n_wc // 100)

    n_td = LINES // 200
    emit("thread_details", [
        f"{t0 + 1000 * i}\tInteractVizThreadGroup 1-{i % 5 + 1}\t{('RUNNABLE', 'WAITING')[i % 2]}" for i in range(n_td)
    ], n_td // 100)

    drop = Drop(as_of=as_of.isoformat(), files=files, lines=lines, malformed=malformed, keys=N_KEYS + 6,
                expected=_expected(rows, summary, wc_ts, as_of))
    empty = [name for name, rows_ in drop.expected.items() if not rows_]
    if empty:
        raise RuntimeError(f"generator produced no rows for {empty}")
    return drop


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    drop = generate(args.seed, args.out)
    print({"as_of": drop.as_of, "lines": drop.lines, "malformed": drop.malformed, "keys": drop.keys,
           "expected_rows": {k: len(v) for k, v in drop.expected.items()}})


if __name__ == "__main__":
    main()
