"""Datetime kernel: frequency parsing, floor/ceil, pandas-resample-compatible
bucket labels, human durations.

Semantics ported (behavior only) from the reference:
  - normalize_frequency_alias — /root/reference/src/pytimetk/utils/datetime_helpers.py:69-87,180-225
  - parse_human_duration     — datetime_helpers.py:90-177
  - floor_date / ceil_date   — datetime_helpers.py:336-465,489-547
  - week_of_month            — datetime_helpers.py:721-733
  - parse_end_date granularity expansion — datetime_helpers.py:626-646

Everything here produces native Catalyst Column expressions (no UDFs), so
tier bucketing stays inside whole-stage codegen and survives 100-TB scans.

Bucket-label convention (pandas ``resample`` parity):
  * start-labeled freqs (S, min, H, D, MS, QS, YS and their multiples):
    label = period start.
  * end-labeled freqs (W[-ANCHOR], M/ME, Q/QE, Y/YE/A): label = period END
    at midnight (e.g. 2020-01-31 for freq="M"), matching pandas resample.
  * fixed-duration multiples (e.g. "7D", "15min") floor epoch-aligned,
    matching ``Series.dt.floor`` — this is the 1h/1d/7d tier primitive.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Frequency parsing

_FIXED_SECONDS = {
    "s": 1,
    "sec": 1,
    "second": 1,
    "seconds": 1,
    "t": 60,
    "min": 60,
    "minute": 60,
    "minutes": 60,
    "h": 3600,
    "hour": 3600,
    "hours": 3600,
    "d": 86400,
    "day": 86400,
    "days": 86400,
}

# calendar units measured in months
_MONTH_UNITS = {
    "m": 1,
    "me": 1,
    "month": 1,
    "months": 1,
    "ms": 1,
    "q": 3,
    "qe": 3,
    "quarter": 3,
    "quarters": 3,
    "qs": 3,
    "y": 12,
    "a": 12,
    "ye": 12,
    "year": 12,
    "years": 12,
    "ys": 12,
    "as": 12,
}

_START_LABELED_MONTHS = {"ms", "qs", "ys", "as", "month", "months", "quarter", "quarters", "year", "years"}

_WEEK_ANCHORS = {
    "mon": 2,
    "tue": 3,
    "wed": 4,
    "thu": 5,
    "fri": 6,
    "sat": 7,
    "sun": 1,
}  # Spark dayofweek(): 1=Sunday .. 7=Saturday

_FREQ_RE = re.compile(r"^\s*(\d+)?\s*([A-Za-z]+)(?:-([A-Za-z]{3}))?\s*$")


@dataclass(frozen=True)
class Freq:
    """Parsed frequency: either fixed-duration (seconds) or calendar (months
    or anchored weeks)."""

    n: int
    unit: str  # 's'|'min'|'h'|'d'|'w'|'month'|'quarter'|'year'
    seconds: int | None  # total seconds per period for fixed-duration freqs
    months: int | None  # total months per period for calendar freqs
    label_end: bool  # pandas resample labels at period end (M/Q/Y/W)
    week_anchor: int | None = None  # Spark dayofweek of the label day

    @property
    def is_fixed(self) -> bool:
        return self.seconds is not None

    @property
    def is_week(self) -> bool:
        return self.unit == "w"

    def interval_sql(self) -> str:
        """SQL INTERVAL literal stepping one period (for sequence())."""
        if self.is_fixed:
            return f"interval {self.seconds} second"
        if self.is_week:
            return f"interval {self.n * 7} day"
        return f"interval {self.months} month"


_CASE_SENSITIVE = {
    # pandas distinguishes case for these: 'M' month-end vs 'm'/'min' minute,
    # 'T' minute, 'S' second, 'H' hour, 'D' day, 'W' week, 'Q','Y','A' year.
    "M": ("month", True),
    "T": ("min", False),
    "S": ("s", False),
}


def parse_freq(freq: str | Freq) -> Freq:
    """Parse a pandas-style offset alias into a :class:`Freq`.

    Accepts deprecated and new spellings ('M'/'ME', 'H'/'h', 'T'/'min', 'Y'/
    'A'/'YE'), optional integer multiples ('15min', '2h', '7D', '3M'), and
    week anchors ('W-MON').
    """
    if isinstance(freq, Freq):
        return freq
    m = _FREQ_RE.match(freq)
    if not m:
        raise ValueError(f"unparseable frequency alias: {freq!r}")
    n = int(m.group(1) or 1)
    raw_unit, anchor = m.group(2), m.group(3)
    if n <= 0:
        raise ValueError(f"frequency multiple must be positive: {freq!r}")

    # single-letter case-sensitive aliases
    if raw_unit in _CASE_SENSITIVE:
        kind, _ = _CASE_SENSITIVE[raw_unit]
        if kind == "month":
            return Freq(n, "month", None, n, label_end=True)
        return Freq(n, kind, n * _FIXED_SECONDS[kind], None, label_end=False)

    unit = raw_unit.lower()
    if unit in ("w", "week", "weeks"):
        anchor_dow = _WEEK_ANCHORS[(anchor or "sun").lower()]
        return Freq(n, "w", None, None, label_end=True, week_anchor=anchor_dow)
    if unit in _FIXED_SECONDS:
        canonical = {
            "t": "min", "sec": "s", "second": "s", "seconds": "s",
            "minute": "min", "minutes": "min", "hour": "h", "hours": "h",
            "day": "d", "days": "d",
        }.get(unit, unit)
        return Freq(n, canonical, n * _FIXED_SECONDS[unit], None, label_end=False)
    if unit in _MONTH_UNITS:
        months = n * _MONTH_UNITS[unit]
        base = {1: "month", 3: "quarter", 12: "year"}.get(_MONTH_UNITS[unit], "month")
        return Freq(n, base, None, months, label_end=unit not in _START_LABELED_MONTHS)
    raise ValueError(f"unknown frequency unit: {freq!r}")


def normalize_freq(freq: str) -> str:
    """Normalize deprecated pandas aliases to the modern spelling
    (reference: normalize_frequency_alias, datetime_helpers.py:69-87)."""
    f = parse_freq(freq)
    if f.is_fixed:
        unit = {"s": "s", "min": "min", "h": "h", "d": "D"}[f.unit]
        return f"{f.n}{unit}" if f.n != 1 else unit
    if f.is_week:
        inv = {v: k.upper() for k, v in _WEEK_ANCHORS.items()}
        suffix = "" if f.week_anchor == 1 else f"-{inv[f.week_anchor]}"
        return (f"{f.n}W" if f.n != 1 else "W") + suffix
    per = {"month": ("ME", "MS"), "quarter": ("QE", "QS"), "year": ("YE", "YS")}[f.unit]
    alias = per[0] if f.label_end else per[1]
    return f"{f.n}{alias}" if f.n != 1 else alias


# ---------------------------------------------------------------------------
# Human durations ("3 days", "2 hours", "1.5 hours" rejected for calendar)

_HUMAN_RE = re.compile(r"^\s*(\d+(?:\.\d+)?)\s*([A-Za-z]+)\s*$")


def parse_human_duration(text: str) -> Freq:
    """Parse "3 days" / "2 hours" / "3 months" → Freq.

    Calendar units (months/quarters/years/weeks) require integer quantities,
    matching the reference (datetime_helpers.py:90-177).
    """
    m = _HUMAN_RE.match(text)
    if not m:
        return parse_freq(text)
    qty, unit = float(m.group(1)), m.group(2).lower()
    unit = unit.rstrip("s") + ("s" if unit.endswith("s") else "")
    if unit.rstrip("s") in ("month", "quarter", "year", "week"):
        if qty != int(qty):
            raise ValueError(f"calendar units must be integer: {text!r}")
        base = unit.rstrip("s")
        return parse_freq(f"{int(qty)}{'W' if base == 'week' else base}")
    # prefer the singularized unit, but fall back to the literal one so
    # bare "s" survives (rstrip("s") would strip it to "")
    singular = unit.rstrip("s")
    base = singular if singular in _FIXED_SECONDS else unit
    sec_per = _FIXED_SECONDS.get(base)
    if sec_per is None:
        raise ValueError(f"unknown duration unit: {text!r}")
    total = qty * sec_per
    if total != int(total):
        raise ValueError(f"sub-second durations unsupported: {text!r}")
    return Freq(int(qty) if qty == int(qty) else 1, base, int(total), None, label_end=False)


# ---------------------------------------------------------------------------
# Column expression builders (all native Catalyst)


def _epoch_floor(ts: Column, seconds: int) -> Column:
    # epoch-aligned floor; matches pandas Series.dt.floor for tz-naive-UTC.
    # TIMESTAMP_NTZ (how parquet INT64 isAdjustedToUTC=false arrives) can't
    # cast straight to double — route through TIMESTAMP first (identity under
    # the engine-mandated UTC session timezone).
    epoch = ts.cast("timestamp").cast("double")
    return F.timestamp_seconds(
        (F.floor(epoch / F.lit(seconds)) * F.lit(seconds)).cast("long")
    )


def _months_since_epoch(ts: Column) -> Column:
    return (F.year(ts) - F.lit(1970)) * F.lit(12) + F.month(ts) - F.lit(1)


def _month_start_from_index(idx: Column) -> Column:
    # idx = months since 1970-01
    yr = F.lit(1970) + F.floor(idx / F.lit(12)).cast("int")
    mo = (idx % F.lit(12)).cast("int") + F.lit(1)
    return F.to_timestamp(F.make_date(yr, mo, F.lit(1)))


def _period_start_months(ts: Column, months: int) -> Column:
    idx = _months_since_epoch(ts)
    floored = F.floor(idx / F.lit(months)) * F.lit(months)
    return _month_start_from_index(floored)


def _week_label(ts: Column, anchor_dow: int) -> Column:
    """The anchor weekday on/after ts's date, at midnight (pandas 'W' label)."""
    d = F.to_date(ts)
    days_ahead = (F.lit(anchor_dow) - F.dayofweek(d) + F.lit(7)) % F.lit(7)
    return F.to_timestamp(F.date_add(d, days_ahead))


def _week_start(ts: Column, anchor_dow: int, n: int = 1) -> Column:
    """Start (midnight of the day after the previous anchor) of the week
    bin containing ts."""
    label = _week_label(ts, anchor_dow)
    return label - F.expr(f"interval {7 * n - 1} day")


def floor_date(ts: Column, freq: str | Freq) -> Column:
    """Period START containing ts (reference floor_date: PeriodIndex
    .to_timestamp → period start; datetime_helpers.py:336-465).

    Fixed-duration freqs floor epoch-aligned (pandas dt.floor); N-month /
    N-quarter / N-year floors use integer month arithmetic.
    """
    f = parse_freq(freq)
    if f.is_fixed:
        return _epoch_floor(ts, f.seconds)
    if f.is_week:
        return _week_start(ts, f.week_anchor, f.n)
    return _period_start_months(ts, f.months)


def ceil_date(ts: Column, freq: str | Freq) -> Column:
    """floor_date + one period (reference ceil_date semantics:
    datetime_helpers.py:489-547 — always adds one offset)."""
    f = parse_freq(freq)
    start = floor_date(ts, f)
    if f.is_fixed:
        return start + F.expr(f"interval {f.seconds} second")
    if f.is_week:
        return start + F.expr(f"interval {7 * f.n} day")
    return start + F.expr(f"interval {f.months} month")


def period_end_label(start: Column, f: Freq) -> Column:
    """Label for end-labeled freqs given the period start."""
    if f.is_week:
        return start + F.expr(f"interval {7 * f.n - 1} day")
    # month-based: last day of the final month in the period
    return F.to_timestamp(
        F.last_day(F.to_date(start + F.expr(f"interval {f.months - 1} month")))
    )


def resample_label(ts: Column, freq: str | Freq) -> Column:
    """Bucket label matching ``pandas.DataFrame.resample(freq)``:
    period start for start-labeled freqs, period END for M/Q/Y/W."""
    f = parse_freq(freq)
    start = floor_date(ts, f)
    if not f.label_end:
        return start
    return period_end_label(start, f)


def week_of_month(ts: Column) -> Column:
    """(day - 1) // 7 + 1 — reference datetime_helpers.py:721-733."""
    return ((F.dayofmonth(ts) - F.lit(1)) / F.lit(7)).cast("int") + F.lit(1)
