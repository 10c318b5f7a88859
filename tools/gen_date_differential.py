#!/usr/bin/env python3
"""Differential-audit vector generator for the permissive date parser.

Generates structured-random date strings across every family the engine
claims (r9-r11 shapes), parses each with dateutil exactly as the
reference does (uppercase input, default=datetime(1,1,1), naive pinned
to UTC - conversions.py:585-598), and writes TSV `input \t micros|NULL`.
graft.etl.DateDifferentialSpec replays the file through
permissiveTimestamp and fails on any mismatch. A regenerated set
replaces one of src/test/resources/dateutil_vectors{,2,3}.tsv; the spec
expects 3000 lines per file:
    python3 tools/gen_date_differential.py SEED 3000 \
        src/test/resources/dateutil_vectorsN.tsv
Known engine divergences
(documented in COVERAGE.md) are EXCLUDED at generation time so every
mismatch is a real finding.
"""
import sys, random, datetime, warnings
import dateutil.parser
warnings.filterwarnings("ignore")

rnd = random.Random(int(sys.argv[1]) if len(sys.argv) > 1 else 11)
N = int(sys.argv[2]) if len(sys.argv) > 2 else 4000

MONTHS = ["JAN","FEB","MAR","APR","MAY","JUN","JUL","AUG","SEP","OCT","NOV","DEC",
          "JANUARY","FEBRUARY","MARCH","APRIL","JUNE","JULY","AUGUST",
          "SEPTEMBER","OCTOBER","NOVEMBER","DECEMBER"]
WDS = ["MON","TUE","WED","THU","FRI","SAT","SUN",
       "MONDAY","TUESDAY","WEDNESDAY","THURSDAY","FRIDAY","SATURDAY","SUNDAY"]
ZONES = ["EST","CST","PST","GMT","UTC","Z","BLURG","X","ABCDE"]

def num(lo, hi, pad=None):
    v = rnd.randint(lo, hi)
    return f"{v:0{pad}d}" if pad else str(v)

def clock():
    h = num(0, rnd.choice([12, 23]))
    m = num(0, 59, rnd.choice([None, 2]))
    s = "" if rnd.random() < 0.4 else ":" + num(0, 59, rnd.choice([None, 2]))
    frac = ""
    if rnd.random() < 0.25:
        frac = "." + num(1, 999999)
    mer = ""
    if rnd.random() < 0.3 and not frac:
        mer = rnd.choice([" AM", " PM", "AM", "PM", " A", " P", "A", "P"])
    return f"{h}:{m}{s}{frac}{mer}"

def zone_suffix():
    r = rnd.random()
    if r < 0.45: return ""
    z = rnd.choice(ZONES)
    if r < 0.6: return rnd.choice([" ", ""]) + z
    sign = rnd.choice(["+", "-"])
    off = num(0, 23) + (":" + num(0, 99) if rnd.random() < 0.3 else "")
    if r < 0.75: return rnd.choice([" ", ""]) + z + sign + off   # GMT+5
    if r < 0.9:  return rnd.choice([" ", ""]) + z + " " + sign + off  # GMT +5
    return rnd.choice([" ", ""]) + sign + off                    # bare

def month_perm():
    m = rnd.choice(MONTHS)
    y = rnd.choice([num(1000, 2100), num(0, 99), num(100, 999), num(0, 99, 2)])
    d = num(0, 35)
    if rnd.random() < 0.2:
        sfx = {1: "ST", 2: "ND", 3: "RD"}.get(int(d) % 10 if int(d) % 100 not in (11,12,13) else 0, "TH")
        d = d + sfx
    sep = rnd.choice([" ", "-", ".", "/", ", ", " ", " "])
    order = rnd.choice([[m, d, y], [d, m, y], [y, m, d], [y, d, m], [m, y], [y, m], [m, d], [d, m], [m]])
    return sep.join(order)

def numeric_perm():
    sep = rnd.choice([" ", "-", ".", "/"])
    a = num(0, 35); b = num(0, 35)
    y = rnd.choice([num(1000, 2100), num(0, 99), num(0, 99, 2), num(100, 999)])
    order = rnd.choice([[a, b, y], [y, a, b], [a, y, b]])
    return sep.join(order)

def iso():
    return f"{num(1000,2100)}-{num(1,12)}-{num(1,31)}"

def compact_t():
    c = rnd.choice(["", num(0,23,2), num(0,23,2)+num(0,59,2), num(0,23,2)+num(0,59,2)+num(0,59,2)])
    frac = "." + num(1, 99) if (len(c) == 6 and rnd.random() < 0.3) else ""
    mer = rnd.choice(["", " PM", "PM", " AM"]) if len(c) >= 2 else ""
    return f"{num(1900,2100,4)}{num(1,12,2)}{num(1,28,2)}{rnd.choice(['','   '[0]])}T{c}{frac}{mer}"

def gen():
    r = rnd.random()
    if r < 0.22: body = month_perm()
    elif r < 0.40: body = numeric_perm()
    elif r < 0.50: body = iso() + rnd.choice([" ", "T"]) + clock()
    elif r < 0.58: body = clock()
    elif r < 0.64: body = "T" + clock() if rnd.random() < 0.5 else compact_t()
    elif r < 0.72: body = month_perm() + " " + clock()
    elif r < 0.80: body = numeric_perm() + rnd.choice([" ", "T"]) + clock()
    elif r < 0.86: body = iso()
    else: body = rnd.choice([month_perm(), numeric_perm(), iso() + " " + clock()])
    # zones/offsets attach only to clock-bearing bodies: on clock-less
    # bodies dateutil reads a dash-attached offset as an HOUR token
    # ("1467-12-8-21" -> 21:00) - a divergence family the engine
    # deliberately nulls (documented)
    if rnd.random() < 0.35 and ":" in body:
        body += zone_suffix()
    if rnd.random() < 0.18:
        body = rnd.choice(WDS) + rnd.choice([", ", " ", ","]) + body
    return body

# engine-documented divergences to EXCLUDE (COVERAGE.md #3 r11 list)
def excluded(s):
    import re
    # legacy 4-digit year < 0100 (engine: literal year; dateutil windows)
    for tok in re.split(r"[ ,.\-/:T]+", s):
        if re.fullmatch(r"0\d{3}", tok) and int(tok) < 100:
            return True
    # double zones / zone-after-offset junk the generator can compose
    if re.search(r"[+-]\d+.*[A-Z]", s): return True
    # sub-100 years near the convertyear +-50 boundary window
    # differently depending on the RUN year - committed vectors must
    # stay valid across calendar rollovers, so keep a few years of
    # margin (the engine and dateutil both window at run time)
    ry = datetime.date.today().year
    for tok in re.split(r"[ ,.\-/]+", s):  # clock fields keep their ':'
        if re.fullmatch(r"\d{1,2}", tok) and abs(int(tok) + (ry // 100) * 100 - ry) in range(45, 56):
            return True
    # digit-dot-ordinal: dateutil's decimal token eats the day
    # ("2060.27TH.SEP" -> day 1; the engine reads the ordinal day -
    # documented divergence)
    if re.search(r"\d\.\d{1,2}(ST|ND|RD|TH)", s): return True
    return False

D = datetime.datetime(1, 1, 1)
seen = set()
out = []
while len(out) < N:
    s = gen()
    if s in seen or excluded(s):
        continue
    seen.add(s)
    u = s.upper()
    try:
        x = dateutil.parser.parse(u, default=D)
        # exact integer micros-since-epoch; astimezone() raises
        # OverflowError near year 1, so subtract the utcoffset in
        # integer space instead (total_seconds of an offset is exact)
        off = 0
        if x.tzinfo is not None:
            off = int(x.utcoffset().total_seconds())
            x = x.replace(tzinfo=None)
        days = x.toordinal() - datetime.date(1970, 1, 1).toordinal()
        micros = (days * 86400 + x.hour * 3600 + x.minute * 60
                  + x.second - off) * 1000000 + x.microsecond
        out.append((u, str(micros)))
    except Exception:
        out.append((u, "NULL"))
with open(sys.argv[3] if len(sys.argv) > 3 else "/tmp/datediff/vectors.tsv", "w") as f:
    for s, v in out:
        f.write(f"{s}\t{v}\n")
print(f"wrote {len(out)} vectors")
