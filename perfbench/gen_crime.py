#!/usr/bin/env python3
"""Seeded generator for the crime_etl workload's input: an SF-crime-shaped
incident CSV in the layout of tools/gen_crime_fixture.py (the committed
test fixture), at benchmark size.

    python3 perfbench/gen_crime.py --seed 7 --rows 1000000 --out crime.csv

The same seed and row count give a byte-identical file. The file has:

- a header row and twelve positional columns, as the SF OpenData export;
- quoted fields with embedded commas and doubled quotes;
- exactly one malformed row in every MALFORMED_EVERY rows, cycling through
  the drop reasons the pipeline handles: short row, unparseable date,
  ISO-formatted date, empty category, empty district;
- dates spread over 2003-2015, with one row in every WEEK6_EVERY on a day
  in the sixth week of its month (the bucket-16 edge).
"""
import argparse
import datetime
import random

CATEGORIES = [
    "ASSAULT", "BURGLARY", "DRUG/NARCOTIC", "FRAUD", "LARCENY/THEFT",
    "MISSING PERSON", "NON-CRIMINAL", "OTHER OFFENSES", "PROSTITUTION",
    "ROBBERY", "SUSPICIOUS OCC", "TRESPASS", "VANDALISM", "VEHICLE THEFT",
    "WARRANTS",
]
# embedded commas and doubled quotes on purpose: the quote-handling edges
DESCRIPTS = {
    "ASSAULT": ["BATTERY", "BATTERY, FORMER SPOUSE", "AGGRAVATED ASSAULT"],
    "BURGLARY": ["ENTRY", "BURGLARY, UNLAWFUL ENTRY", "FORCIBLE ENTRY"],
    "DRUG/NARCOTIC": ["POSSESSION OF NARCOTICS", "SALE OF CONTROLLED SUBSTANCE"],
    "FRAUD": ["CREDIT CARD, THEFT BY USE OF", "FORGERY"],
    "LARCENY/THEFT": ["GRAND THEFT FROM LOCKED AUTO, ATTEMPTED", "PETTY THEFT",
                      "GRAND THEFT PICKPOCKET"],
    "MISSING PERSON": ["MISSING ADULT", "FOUND PERSON"],
    "NON-CRIMINAL": ["LOST PROPERTY", "AIDED CASE"],
    "OTHER OFFENSES": ["TRAFFIC VIOLATION", "VIOLATION OF RESTRAINING ORDER"],
    "PROSTITUTION": ["SOLICITS FOR ACT"],
    "ROBBERY": ["ROBBERY, ARMED", "ROBBERY OF A CHAIN STORE"],
    "SUSPICIOUS OCC": ['SUSPICIOUS "PERSON" REPORT', "INVESTIGATIVE DETENTION"],
    "TRESPASS": ["TRESPASSING"],
    "VANDALISM": ["GRAFFITI", "MALICIOUS MISCHIEF, VANDALISM OF VEHICLES"],
    "VEHICLE THEFT": ["STOLEN AUTOMOBILE", "ATTEMPTED STOLEN VEHICLE"],
    "WARRANTS": ["WARRANT ARREST", "ENROUTE TO OUTSIDE JURISDICTION"],
}
DISTRICTS = ["BAYVIEW", "CENTRAL", "INGLESIDE", "MISSION", "NORTHERN",
             "PARK", "RICHMOND", "SOUTHERN", "TARAVAL", "TENDERLOIN"]
RESOLUTIONS = ["NONE", "ARREST, BOOKED", "ARREST, CITED", "UNFOUNDED"]
DOW = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
       "Sunday"]
HEADER = ("IncidntNum,Category,Descript,DayOfWeek,Date,Time,PdDistrict,"
          "Resolution,Address,X,Y,Location")
D0 = datetime.date(2003, 1, 1)
D1 = datetime.date(2015, 12, 31)
MALFORMED_EVERY = 100
WEEK6_EVERY = 150


def csv_field(s):
    if '"' in s or "," in s:
        return '"' + s.replace('"', '""') + '"'
    return s


def row(cols):
    return ",".join(csv_field(c) for c in cols)


def week_of_month(d):
    """java.util.Calendar.WEEK_OF_MONTH, US locale (weeks start on Sunday,
    the first week may have a single day)."""
    first_dow = (d.replace(day=1).weekday() + 1) % 7  # Sunday = 0
    return (d.day + first_dow - 1) // 7 + 1


def generate(seed, rows):
    """The CSV's lines (header first), without line terminators."""
    r = random.Random(seed)
    rnd = r.random

    def pick(xs):
        return xs[int(rnd() * len(xs))]

    days = [D0 + datetime.timedelta(days=i) for i in range((D1 - D0).days + 1)]
    day_text = [(d.strftime("%m/%d/%Y"), DOW[d.weekday()]) for d in days]
    week6_text = [t for d, t in zip(days, day_text) if week_of_month(d) == 6]
    # the quoted forms, so each row is a plain join
    cat_descripts = [(c, [csv_field(x) for x in DESCRIPTS[c]])
                     for c in CATEGORIES]
    resolutions = [csv_field(x) for x in RESOLUTIONS]
    blocks = [f"{b} Block of BENCH ST" for b in range(100, 3800, 100)]
    times = [f"{h:02d}:{m:02d}" for h in range(24) for m in range(60)]
    yield HEADER
    for n in range(1, rows + 1):
        if n % MALFORMED_EVERY == 0:
            yield malformed(n, (n // MALFORMED_EVERY) % 5, r)
            continue
        date, dow = pick(week6_text if n % WEEK6_EVERY == 0 else day_text)
        cat, descripts = pick(cat_descripts)
        hhmm = pick(times)
        x = f"{-122.5143 + rnd() * 0.146:.6f}"
        y = f"{37.7080 + rnd() * 0.105:.6f}"
        yield (f"{n:09d},{cat},{pick(descripts)},{dow},{date} {hhmm},{hhmm},"
               f"{pick(DISTRICTS)},{pick(resolutions)},{pick(blocks)},"
               f"{x},{y},\"({y}, {x})\"")


def malformed(n, kind, r):
    """A row the clean pipeline must drop and the bad-record audit must
    tag; `kind` picks the reason."""
    cat = CATEGORIES[int(r.random() * len(CATEGORIES))]
    dist = DISTRICTS[int(r.random() * len(DISTRICTS))]
    date = "01/15/2013 12:00"
    if kind == 0:
        return f"{n:09d},short row"
    if kind == 1:
        date = "not-a-date"
    elif kind == 2:
        date = "2013-01-15 12:00"
    elif kind == 3:
        cat = ""
    else:
        dist = ""
    return row([f"{n:09d}", cat, "BATTERY", "Tuesday", date, "12:00", dist,
                "NONE", "100 Block of BENCH ST", "-122.4", "37.7",
                "(37.7, -122.4)"])


def write(path, seed, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        batch = []
        for line in generate(seed, rows):
            batch.append(line)
            if len(batch) == 10000:
                f.write("\n".join(batch) + "\n")
                batch = []
        if batch:
            f.write("\n".join(batch) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.out, a.seed, a.rows)


if __name__ == "__main__":
    main()
