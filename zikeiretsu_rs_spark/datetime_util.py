"""Datetime semantics of the zikeiretsu query dialect.

All timestamps are integer Unix-epoch **nanoseconds** (the reference's
`TimestampNano(u64)`, zikeiretsu/src/tsdb/datetime/timestamp_nano.rs:13).
Spark's TimestampType is microsecond-precision, so the engine keeps the
timestamp spine as a LongType column and only derives display views.

Semantics ported from (behavior only, no code):
- literal parsing: zikeiretsu/src/tsdb/datetime/util.rs:61-124
- accuracy classification: datetime/util.rs:30-58
- today/yesterday/tomorrow: datetime/util.rs:18-28
- tz-resolved literal interpretation + deltas:
  query/parser/parts/datetime_filter_parser.rs:116-155
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from enum import Enum
from zoneinfo import ZoneInfo

from .errors import InvalidDatetimeFormat, ParserError

NANOS_PER_MICRO = 1_000
NANOS_PER_MILLI = 1_000_000
NANOS_PER_SEC = 1_000_000_000
NANOS_PER_MINUTE = 60 * NANOS_PER_SEC
NANOS_PER_HOUR = 3600 * NANOS_PER_SEC
NANOS_PER_DAY = 86_400 * NANOS_PER_SEC

_EPOCH_ORDINAL = date(1970, 1, 1).toordinal()


class DatetimeAccuracy(Enum):
    """Width classes for `ts = <literal>` expansion.

    Mirrors `DatetimeAccuracy::from_datetime` (datetime/util.rs:40-58)
    **including its sub-second quirk**: sub-microsecond remainders map to
    MICRO (1 us window), microsecond remainders map to MILLI (1 ms window)
    and millisecond remainders map to NANO (1 ns window). That inversion is
    the reference's shipped behavior (`nano_sec % 1_000 != 0 =>
    MicroSecond` etc.), so we reproduce it bit-for-bit.
    """

    NANO = NANOS_PER_MICRO // 1_000  # 1
    MICRO = NANOS_PER_MICRO  # 1_000
    MILLI = NANOS_PER_MILLI
    SECOND = NANOS_PER_SEC
    MINUTE = NANOS_PER_MINUTE
    HOUR = NANOS_PER_HOUR
    DAY = NANOS_PER_DAY

    @property
    def width_nanos(self) -> int:
        return self.value


def accuracy_of_local_nanos(local_nanos: int) -> DatetimeAccuracy:
    """Classify the accuracy of a wall-clock instant given as epoch nanos
    of its *local* (tz-shifted) reading. Port of datetime/util.rs:41-57."""
    nano_sec = local_nanos % NANOS_PER_SEC
    if nano_sec == 0:
        day_sec = (local_nanos // NANOS_PER_SEC) % 86_400
        h, rem = divmod(day_sec, 3600)
        m, s = divmod(rem, 60)
        if h == 0 and m == 0 and s == 0:
            return DatetimeAccuracy.DAY
        if m == 0 and s == 0:
            return DatetimeAccuracy.HOUR
        if s == 0:
            return DatetimeAccuracy.MINUTE
        return DatetimeAccuracy.SECOND
    if nano_sec % 1_000 != 0:
        return DatetimeAccuracy.MICRO
    if nano_sec % 1_000_000 != 0:
        return DatetimeAccuracy.MILLI
    return DatetimeAccuracy.NANO


_DATETIME_RE = re.compile(
    r"^(\d{4})-(\d{1,2})-(\d{1,2})"
    r"(?:\s+(\d{1,2}):(\d{1,2})"
    r"(?::(\d{1,2})(?:\.(\d{1,9}))?)?)?$"
)


def parse_datetime_literal(text: str) -> int:
    """Parse a (already unquoted) datetime literal to *naive* epoch nanos.

    Accepted formats (datetime/util.rs:82-86):
        yyyy-MM-dd HH:mm:ss.fffffffff  (1..9 fractional digits = nanos)
        yyyy-MM-dd HH:mm:ss
        yyyy-MM-dd HH:mm
        yyyy-MM-dd
    The value is interpreted later against the query timezone; here it is
    wall-clock nanos since 1970-01-01T00:00:00 with no zone applied.

    Fractional digits follow chrono's parsing `%f` (the reference parses
    with `%H:%M:%S.%f`, datetime/util.rs:74): the digit run is a RAW
    NANOSECOND COUNT, not a left-aligned decimal fraction — `.023` is 23
    nanoseconds (not 23 ms), `.5` is 5 ns. Only 9-digit fractions read
    the same both ways. This also feeds DatetimeAccuracy widening for
    `ts =`: raw-nano remainders classify by the reference's quirky
    mod-1000 ladder exactly as chrono-parsed values do.
    """
    m = _DATETIME_RE.match(text.strip())
    if m is None:
        raise InvalidDatetimeFormat(f"invalid date time format:{text}")
    year, month, day = int(m.group(1)), int(m.group(2)), int(m.group(3))
    hh = int(m.group(4) or 0)
    mm = int(m.group(5) or 0)
    ss = int(m.group(6) or 0)
    frac = m.group(7) or ""
    frac_nanos = int(frac) if frac else 0  # chrono %f: raw nano count
    try:
        d = date(year, month, day)
    except ValueError as e:
        raise InvalidDatetimeFormat(f"invalid date time format:{text}") from e
    if hh > 23 or mm > 59 or ss > 59:
        raise InvalidDatetimeFormat(f"invalid date time format:{text}")
    days = d.toordinal() - _EPOCH_ORDINAL
    return (
        days * NANOS_PER_DAY
        + hh * NANOS_PER_HOUR
        + mm * NANOS_PER_MINUTE
        + ss * NANOS_PER_SEC
        + frac_nanos
    )


_OFFSET_RE = re.compile(r"^([+-])(\d{1,2})(?::(\d{2}))?(?::(\d{2}))?$")


@dataclass(frozen=True)
class TimeZoneAndOffset:
    """Query-effective timezone: a name plus the fixed UTC offset used for
    literal interpretation and output rendering (reference
    `TimeZoneAndOffset`, datetime/timezone.rs:4-8 — the reference likewise
    collapses the zone to a fixed offset at query time)."""

    name: str
    offset_seconds: int

    @property
    def offset_nanos(self) -> int:
        return self.offset_seconds * NANOS_PER_SEC


DEFAULT_TIMEZONE = TimeZoneAndOffset("UTC", 0)


def resolve_timezone(name: str, now_utc: datetime | None = None) -> TimeZoneAndOffset:
    """Resolve a `tz = <name>` definition to a fixed offset.

    Accepts IANA names (via zoneinfo, offset taken at `now` like the
    reference's chrono-tz resolution) and literal offsets `+HH[:MM[:SS]]`.
    """
    name = name.strip()
    if name.upper() in ("UTC", "Z"):
        return TimeZoneAndOffset("UTC", 0)
    m = _OFFSET_RE.match(name)
    if m is not None:
        sign = 1 if m.group(1) == "+" else -1
        secs = int(m.group(2)) * 3600 + int(m.group(3) or 0) * 60 + int(m.group(4) or 0)
        return TimeZoneAndOffset(name, sign * secs)
    try:
        tz = ZoneInfo(name)
    except Exception as e:  # KeyError / ZoneInfoNotFoundError
        raise ParserError(f"unknown timezone: {name}") from e
    now = now_utc or datetime.now(timezone.utc)
    off = now.astimezone(tz).utcoffset()
    assert off is not None
    return TimeZoneAndOffset(name, int(off.total_seconds()))


def today_nanos(offset_seconds: int, now_utc_nanos: int) -> int:
    """Midnight (00:00 local) of the current date in the effective tz, as
    epoch nanos. Port of datetime/util.rs:18-20: current UTC instant ->
    shift to tz -> take date -> midnight in tz."""
    local = now_utc_nanos + offset_seconds * NANOS_PER_SEC
    local_midnight = (local // NANOS_PER_DAY) * NANOS_PER_DAY
    return local_midnight - offset_seconds * NANOS_PER_SEC


def yesterday_nanos(offset_seconds: int, now_utc_nanos: int) -> int:
    return today_nanos(offset_seconds, now_utc_nanos) - NANOS_PER_DAY


def tomorrow_nanos(offset_seconds: int, now_utc_nanos: int) -> int:
    return today_nanos(offset_seconds, now_utc_nanos) + NANOS_PER_DAY


def now_utc_nanos(now: datetime | None = None) -> int:
    now = now or datetime.now(timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    delta = now - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (delta.days * 86_400 + delta.seconds) * NANOS_PER_SEC + delta.microseconds * 1_000


def format_rfc3339_nanos(ts_nanos: int, offset_seconds: int) -> str:
    """Render epoch nanos as an RFC3339 string in the effective tz.

    Mirrors `TimestampNano::as_formated_datetime`
    (datetime/timestamp_nano.rs:58-71): offset applied, nanosecond
    fraction always printed (9 digits), explicit offset suffix.
    """
    local = ts_nanos + offset_seconds * NANOS_PER_SEC
    secs, nanos = divmod(local, NANOS_PER_SEC)
    dt = datetime(1970, 1, 1) + timedelta(seconds=secs)
    return f"{dt.strftime('%Y-%m-%dT%H:%M:%S')}.{nanos:09d}{rfc3339_offset_suffix(offset_seconds)}"


def rfc3339_offset_suffix(offset_seconds: int) -> str:
    """The explicit `±HH:MM` offset suffix of an RFC3339 rendering."""
    if offset_seconds == 0:
        return "+00:00"
    sign = "+" if offset_seconds >= 0 else "-"
    a = abs(offset_seconds)
    return f"{sign}{a // 3600:02d}:{(a % 3600) // 60:02d}"
