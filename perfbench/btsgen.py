"""Seeded, vectorised generator of a headerless 109-column BTS-shaped CSV.

Rows follow the `flights` domain of FIXTURES.md section 1: some rows in
2007 (filtered out by the report), ~2% cancelled, ~1% diverted, one
high-volume carrier, one carrier with an empty 2008 month and one carrier
whose month averages are exact integers. The columns the reference reads
sit at their positional indices (0 Year, 1 Quarter, 2 Month, 6
UniqueCarrier, 37 ArrDelayMinutes, 41 Cancelled, 43 Diverted); the other
columns carry BTS-like filler from small domains (dates, airport codes,
HHMM times, quoted "City, ST" names, mostly-empty diversion fields), so
compression and the quote-aware parse see realistic input.

Every field is a lookup into a small table of strings, and the lines are
assembled by scattering the table bytes into one buffer with NumPy; no
Python code runs per row or per cell. The same seed gives the same bytes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

N_COLS = 109
CARRIERS = [
    "AA", "AQ", "AS", "B6", "CO", "DL", "EV", "F9", "FL", "HA",
    "MQ", "NW", "OH", "OO", "UA", "US", "WN", "XE", "YV", "9E",
]
HEAVY_CARRIER = "WN"  # ~25% of all rows (skew)
EMPTY_MONTH_CARRIER, EMPTY_MONTH = "AQ", 7  # no 2008 rows in July
INTEGRAL_CARRIER = "HA"  # every 2008 month average is an exact integer
AIRPORTS = [  # code, "City, ST", state, state name
    ("ATL", "Atlanta, GA", "GA", "Georgia"),
    ("ORD", "Chicago, IL", "IL", "Illinois"),
    ("DFW", "Dallas/Fort Worth, TX", "TX", "Texas"),
    ("DEN", "Denver, CO", "CO", "Colorado"),
    ("LAX", "Los Angeles, CA", "CA", "California"),
    ("PHX", "Phoenix, AZ", "AZ", "Arizona"),
    ("IAH", "Houston, TX", "TX", "Texas"),
    ("LAS", "Las Vegas, NV", "NV", "Nevada"),
    ("DTW", "Detroit, MI", "MI", "Michigan"),
    ("SFO", "San Francisco, CA", "CA", "California"),
    ("SLC", "Salt Lake City, UT", "UT", "Utah"),
    ("EWR", "Newark, NJ", "NJ", "New Jersey"),
    ("MSP", "Minneapolis, MN", "MN", "Minnesota"),
    ("MCO", "Orlando, FL", "FL", "Florida"),
    ("JFK", "New York, NY", "NY", "New York"),
    ("LGA", "New York, NY", "NY", "New York"),
    ("BOS", "Boston, MA", "MA", "Massachusetts"),
    ("SEA", "Seattle, WA", "WA", "Washington"),
    ("CLT", "Charlotte, NC", "NC", "North Carolina"),
    ("PHL", "Philadelphia, PA", "PA", "Pennsylvania"),
    ("BWI", "Baltimore, MD", "MD", "Maryland"),
    ("MIA", "Miami, FL", "FL", "Florida"),
    ("MDW", "Chicago, IL", "IL", "Illinois"),
    ("SAN", "San Diego, CA", "CA", "California"),
    ("TPA", "Tampa, FL", "FL", "Florida"),
    ("PDX", "Portland, OR", "OR", "Oregon"),
    ("STL", "St. Louis, MO", "MO", "Missouri"),
    ("HNL", "Honolulu, HI", "HI", "Hawaii"),
    ("OAK", "Oakland, CA", "CA", "California"),
    ("BNA", "Nashville, TN", "TN", "Tennessee"),
]


@dataclass(frozen=True)
class FlightsCsv:
    """The rendered CSV plus the arrays it was rendered from."""

    data: bytes
    carrier: np.ndarray  # index into CARRIERS
    year: np.ndarray
    month: np.ndarray
    delay: np.ndarray  # ArrDelayMinutes; meaningful where completed
    cancelled: np.ndarray  # bool
    diverted: np.ndarray  # bool


class _Table:
    """A small domain of strings as a padded byte matrix plus lengths."""

    def __init__(self, values):
        enc = [str(v).encode() for v in values]
        width = max(1, max(len(e) for e in enc))
        self.bytes = (
            np.array(enc, dtype=f"S{width}").view(np.uint8)
            .reshape(len(enc), width)
        )
        self.lens = np.array([len(e) for e in enc], dtype=np.int64)


def _render(fields: list[tuple[_Table, np.ndarray] | None], n: int) -> bytes:
    """Assemble n comma-separated lines; field k of line i is
    table_k[codes_k[i]], or empty where the field is None."""
    line_len = np.full(n, len(fields), dtype=np.int64)  # commas + newline
    for f in fields:
        if f is not None:
            line_len += f[0].lens[f[1]]
    ends = np.cumsum(line_len)
    buf = np.full(int(ends[-1]), ord(","), dtype=np.uint8)
    buf[ends - 1] = ord("\n")
    pos = ends - line_len
    for f in fields:
        if f is not None:
            table, codes = f
            lens = table.lens[codes]
            for j in range(table.bytes.shape[1]):
                has = lens > j
                buf[pos[has] + j] = table.bytes[codes[has], j]
            pos = pos + lens
        pos = pos + 1
    return buf.tobytes()


def _hhmm(minute_of_day: np.ndarray) -> np.ndarray:
    return (minute_of_day // 60) * 100 + minute_of_day % 60


def generate(n_rows: int, seed: int) -> FlightsCsv:
    rng = np.random.default_rng(seed)
    n_car = len(CARRIERS)
    heavy = CARRIERS.index(HEAVY_CARRIER)
    p = np.full(n_car, 0.75 / (n_car - 1))
    p[heavy] = 0.25
    carrier = rng.choice(n_car, n_rows, p=p)
    year = np.where(rng.random(n_rows) < 0.15, 2007, 2008)
    month = rng.integers(1, 13, n_rows)
    empty = (carrier == CARRIERS.index(EMPTY_MONTH_CARRIER)) & (year == 2008)
    month[empty & (month == EMPTY_MONTH)] = EMPTY_MONTH + 1
    days_in_month = np.array([31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])
    day = 1 + (rng.random(n_rows) * days_in_month[month - 1]).astype(np.int64)
    u = rng.random(n_rows)
    cancelled = u < 0.02
    diverted = (u >= 0.02) & (u < 0.03)
    completed = ~(cancelled | diverted)
    # BTS clamps ArrDelayMinutes at 0; about half the flights are on time.
    delay = np.where(
        rng.random(n_rows) < 0.5, 0,
        np.minimum(rng.geometric(1 / 25, n_rows), 999),
    )
    integral = carrier == CARRIERS.index(INTEGRAL_CARRIER)
    delay[integral] = 3 * month[integral]
    dep_delay = np.where(delay > 0, delay, -rng.integers(0, 10, n_rows))

    dates = (
        np.array(["2007-01-01", "2008-01-01"], dtype="datetime64[D]")[year - 2007]
        + (np.cumsum(np.r_[0, days_in_month[:-1]])[month - 1] + day - 1)
        + ((year == 2008) & (month > 2))  # 2008 is a leap year
    )
    day_of_week = (dates.astype(np.int64) + 3) % 7 + 1  # 1 = Monday
    date_idx = (dates - np.datetime64("2007-01-01")).astype(np.int64)
    origin = rng.integers(0, len(AIRPORTS), n_rows)
    dest = (origin + rng.integers(1, len(AIRPORTS), n_rows)) % len(AIRPORTS)
    crs_dep = rng.integers(330, 1380, n_rows)  # minute of day
    elapsed = 45 + (((origin * 31 + dest * 17) % 29) * 12)
    taxi_out = rng.integers(5, 40, n_rows)
    taxi_in = rng.integers(2, 20, n_rows)
    dep = (crs_dep + dep_delay) % 1440
    wheels_on = (dep + elapsed - taxi_in) % 1440
    crs_arr = (crs_dep + elapsed) % 1440
    distance = elapsed * 6 + 30

    ints = _Table(range(10_000))
    mins = _Table([f"{int(h):04d}" for h in _hhmm(np.arange(1440))])
    decimals = _Table([f"{i}.00" for i in range(3000)])
    flags = _Table(["0.00", "1.00"])
    day_names = np.datetime64("2007-01-01") + np.arange(731)
    airports = [_Table([a[k] for a in AIRPORTS]) for k in range(4)]
    cities = _Table([f'"{a[1]}"' for a in AIRPORTS])
    tails = _Table([f"N{100 + i % 900}{chr(65 + i % 26)}{chr(65 + i // 26 % 26)}"
                    for i in range(2000)])
    blocks = _Table([f"{h:02d}00-{h:02d}59" for h in range(24)])
    cancel_codes = _Table(["", "A", "B", "C"])
    carriers = _Table(CARRIERS)
    airline_ids = _Table([19_790 + 17 * i for i in range(n_car)])
    late = delay >= 15

    empty_dec = _Table(["", *[f"{i}.00" for i in range(1000)]])
    empty_int = _Table(["", *range(1440)])
    empty_hhmm = _Table(["", *[f"{int(h):04d}" for h in _hhmm(np.arange(1440))]])

    def blank_unless(table_with_blank, values, present):
        """A field left empty where `present` is false, as BTS leaves the
        arrival and delay-cause columns of cancelled flights; the table's
        first entry is the empty string."""
        return (table_with_blank, np.where(present, values + 1, 0))

    airport_id = 10_100 + origin * 37
    dest_id = 10_100 + dest * 37
    fields: list[tuple[_Table, np.ndarray] | None] = [
        (ints, year),  # 0 Year
        (ints, (month - 1) // 3 + 1),  # 1 Quarter
        (ints, month),  # 2 Month
        (ints, day),  # 3 DayofMonth
        (ints, day_of_week),  # 4 DayOfWeek
        (_Table(day_names), date_idx),  # 5 FlightDate
        (carriers, carrier),  # 6 UniqueCarrier
        (airline_ids, carrier),  # 7 AirlineID
        (carriers, carrier),  # 8 Carrier
        (tails, (carrier * 97 + rng.integers(0, 100, n_rows)) % 2000),  # 9
        (ints, rng.integers(1, 7000, n_rows)),  # 10 FlightNum
        (ints, airport_id % 10_000),  # 11 OriginAirportID
        (ints, (airport_id * 3) % 10_000),  # 12 OriginAirportSeqID
        (ints, (airport_id * 7) % 10_000),  # 13 OriginCityMarketID
        (airports[0], origin),  # 14 Origin
        (cities, origin),  # 15 OriginCityName
        (airports[2], origin),  # 16 OriginState
        (ints, 1 + origin % 56),  # 17 OriginStateFips
        (airports[3], origin),  # 18 OriginStateName
        (ints, 10 + origin * 3),  # 19 OriginWac
        (ints, dest_id % 10_000),  # 20 DestAirportID
        (ints, (dest_id * 3) % 10_000),  # 21 DestAirportSeqID
        (ints, (dest_id * 7) % 10_000),  # 22 DestCityMarketID
        (airports[0], dest),  # 23 Dest
        (cities, dest),  # 24 DestCityName
        (airports[2], dest),  # 25 DestState
        (ints, 1 + dest % 56),  # 26 DestStateFips
        (airports[3], dest),  # 27 DestStateName
        (ints, 10 + dest * 3),  # 28 DestWac
        (mins, crs_dep),  # 29 CRSDepTime
        blank_unless(empty_hhmm, dep, ~cancelled),  # 30 DepTime
        blank_unless(_Table(["", *[f"{i}.00" for i in range(-10, 1000)]]),
                     dep_delay + 10, ~cancelled),  # 31 DepDelay
        blank_unless(empty_dec, np.maximum(dep_delay, 0), ~cancelled),  # 32
        (flags, (dep_delay >= 15).astype(np.int64)),  # 33 DepDel15
        (ints, np.clip(dep_delay // 15, 0, 12)),  # 34 DepartureDelayGroups
        (blocks, crs_dep // 60),  # 35 DepTimeBlk
        blank_unless(empty_dec, taxi_out, ~cancelled),  # 36 TaxiOut
        blank_unless(empty_dec, delay, completed),  # 37 ArrDelayMinutes
        blank_unless(empty_hhmm, wheels_on, completed),  # 38 WheelsOn
        blank_unless(empty_dec, taxi_in, completed),  # 39 TaxiIn
        (mins, crs_arr),  # 40 CRSArrTime
        (flags, cancelled.astype(np.int64)),  # 41 Cancelled
        (cancel_codes, np.where(cancelled, rng.integers(1, 4, n_rows), 0)),
        (flags, diverted.astype(np.int64)),  # 43 Diverted
        (decimals, elapsed),  # 44 CRSElapsedTime
        blank_unless(empty_dec, elapsed + delay - np.maximum(dep_delay, 0),
                     completed),  # 45 ActualElapsedTime
        blank_unless(empty_dec, elapsed - 10, completed),  # 46 AirTime
        (flags, np.ones(n_rows, dtype=np.int64)),  # 47 Flights
        (decimals, distance),  # 48 Distance
        (ints, 1 + distance // 250),  # 49 DistanceGroup
        blank_unless(empty_dec, delay // 3, late),  # 50 CarrierDelay
        blank_unless(empty_dec, 0 * delay, late),  # 51 WeatherDelay
        blank_unless(empty_dec, delay // 3, late),  # 52 NASDelay
        blank_unless(empty_dec, 0 * delay, late),  # 53 SecurityDelay
        blank_unless(empty_dec, delay - 2 * (delay // 3), late),  # 54
        blank_unless(empty_int, dep, diverted),  # 55 FirstDepTime
        blank_unless(empty_dec, taxi_out * 3, diverted),  # 56 TotalAddGTime
        blank_unless(empty_dec, taxi_out * 3, diverted),  # 57 LongestAddGTime
        (ints, diverted.astype(np.int64)),  # 58 DivAirportLandings
    ]
    fields += [None] * (N_COLS - len(fields))  # 59-108 diversion detail
    return FlightsCsv(
        _render(fields, n_rows), carrier, year, month, delay, cancelled,
        diverted,
    )


def expected_report(g: FlightsCsv) -> list[str]:
    """The `report`/`direct` output lines computed independently in NumPy:
    per carrier with a completed 2008 flight, floor(month avg) + 1, or 0
    for a month without flights, rendered as the reference renders it."""
    keep = (g.year == 2008) & ~g.cancelled & ~g.diverted
    key = g.carrier[keep] * 12 + (g.month[keep] - 1)
    size = len(CARRIERS) * 12
    sums = np.bincount(key, weights=g.delay[keep], minlength=size)
    counts = np.bincount(key, minlength=size)
    sums, counts = sums.reshape(-1, 12), counts.reshape(-1, 12)
    lines = []
    for c in np.flatnonzero(counts.sum(axis=1)):
        vals = [
            int(np.floor(sums[c, m] / counts[c, m])) + 1 if counts[c, m] else 0
            for m in range(12)
        ]
        lines.append(
            f"AIR-{CARRIERS[c]}\t"
            + "".join(f", ({m + 1},{v})" for m, v in enumerate(vals))
        )
    return sorted(lines)
