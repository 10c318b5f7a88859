#!/usr/bin/env python3
"""Full-record differential vectors for the enrich pipeline.

Runs the REFERENCE's own grabAll (idb/helpers/conversions.py:932-964,
same sandbox stubs as calibrate_enrich.py) over structured-random
records and emits JSONL {id, data, exp}. graft.etl.EnrichDifferentialSpec
replays the `records` kind through graft.etl.Enrich.records and the
`mediarecords` kind through graft.etl.Enrich.mediarecords. A regenerated
set replaces one of src/test/resources/enrich_vectors{,2,3}.jsonl
(records) or enrich_media_vectors{,2,3}.jsonl (mediarecords); the spec
expects 500 records per file:
    python3 tools/gen_enrich_differential.py SEED 500 \
        src/test/resources/enrich_vectorsN.jsonl records
The `recordsets` and `publishers` kinds have no committed set and no
replaying spec (EnrichDimSpec covers those two types by example).

Excluded by construction (stub asymmetries, not engine divergences):
- geodeticDatum (reference's pyproj is stubbed to a no-op here; the
  engine implements Molodensky shifts for real)
- scientificName without genus+specificEpithet (the reference's
  reverse crossfill needs the gnparser socket, absent here; the
  engine parses names in-process)
- rev_geocode_* flags (the reference's shapefile reverse geocoder is
  stubbed; the engine runs reverse geocoding in the geo-correction
  operator, not the enrich stage)
"""
import sys, types, json, random, datetime


def stub(name, **attrs):
    m = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m
    return m


class _CRS:
    @staticmethod
    def from_user_input(x):
        return object()

    @staticmethod
    def from_epsg(x):
        return object()


class _Transformer:
    @staticmethod
    def from_crs(a, b, always_xy=True):
        raise RuntimeError("pyproj unavailable in sandbox")


stub("pyproj", CRS=_CRS, Transformer=_Transformer)
shp = stub("shapely")
shp.wkt = stub("shapely.wkt", loads=lambda s: None)
stub("shapely.geometry", Polygon=object, mapping=lambda o: None,
     shape=lambda g: None, Point=object)
stub("shapely.prepared", prep=lambda g: g)
stub("fiona", open=lambda p: None)
stub("magic", from_buffer=lambda *a, **kw: "application/octet-stream")
stub("idb.helpers.rg", get_country=lambda lon, lat, eez=False: None)
sys.path.insert(0, "/root/reference")
import idb.helpers  # noqa: E402
sys.modules["idb.helpers.rg"].__package__ = "idb.helpers"
from idb.helpers import conversions  # noqa: E402

conversions.bioserv._sock = False

# the reference deploys on en_US servers and `locale.setlocale(LC_ALL,
# '')` (conversions.py:32) picks that up; this container has only the
# C locale, where atof("1,234") raises. Emulate the production locale
# so thousands-separated numbers take the reference's real path.
import locale as _locale
_locale.atof = lambda s: float(str(s).replace(",", ""))
_locale.atoi = lambda s: int(str(s).replace(",", ""))

rnd = random.Random(int(sys.argv[1]) if len(sys.argv) > 1 else 7)
N = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/enrichdiff/vectors.jsonl"

DATES = ["2014-01-10", "2014-01-10 12:30:15", "JAN 5, 1999 3:15 PM",
         "5 MARCH 2001", "1/2/1994", "13/5/1999", "1999.01.05",
         "10.JAN.1999", "SUN, 05 JAN 1999 12:30:15 GMT", "19990105T1230",
         "2014-01-10 12:30:15 EST", "12:30:15", "not a date", "99999999",
         "MARCH 2001", "1999 JAN 5", "01-05-1999", "2060-13-40", ""]
BORS = ["Preserved Specimen", "PreservedSpecimen", "fossil bones",
        "machine observation", "Living Specimen", "material sample",
        "Human observation", "mystery meat", "", "Occurrence"]
RANKS = ["species", "SPECIES", "genus", "subspecies", "variety", "cultivar",
         "sp.", "junk rank", ""]
ELEVS = ["123.5 m", "-3", "1,234.5 ft", "about 12", "12-15m", "junk", ""]
COUNTS = ["3", "1,234", "2.5", "many", "0", "-1", ""]
SEQS = ["AB123456", "AB123456 KX765432", "genbank: KX1 and AB999999",
        "http://www.ncbi.nlm.nih.gov/nuccore/AB123456", "none", ""]
VERNS = ["test bird", "spotted owl, barn owl", "", "Fuzzy Moth"]


def numstr():
    v = rnd.uniform(-200, 200)
    return rnd.choice([f"{v:.4f}", f"{v:.1f}", f"{v:.0f}", f"{v:.2f}"])


def gen_record(i):
    d = {}
    if rnd.random() < 0.9:
        d["dwc:eventDate"] = rnd.choice(DATES)
    if rnd.random() < 0.3:
        d["dwc:year"] = str(rnd.randint(1400, 2100))
        d["dwc:month"] = str(rnd.randint(0, 13))
        d["dwc:day"] = str(rnd.randint(0, 32))
    if rnd.random() < 0.2:
        d["dwc:startDayOfYear"] = str(rnd.randint(0, 400))
    if rnd.random() < 0.85:
        r = rnd.random()
        if r < 0.5:
            d["dwc:decimalLatitude"] = numstr()
            d["dwc:decimalLongitude"] = numstr()
        elif r < 0.65:  # valid in-bounds
            d["dwc:decimalLatitude"] = f"{rnd.uniform(-85, 85):.3f}"
            d["dwc:decimalLongitude"] = f"{rnd.uniform(-170, 170):.3f}"
        elif r < 0.75:  # flip candidates
            d["dwc:decimalLatitude"] = f"{rnd.uniform(91, 179):.2f}"
            d["dwc:decimalLongitude"] = f"{rnd.uniform(-89, 89):.2f}"
        elif r < 0.85:  # zero / similar
            d["dwc:decimalLatitude"] = rnd.choice(["0", "12.5"])
            d["dwc:decimalLongitude"] = rnd.choice(["0", "12.5", "-12.5"])
        else:
            d["dwc:decimalLatitude"] = rnd.choice(["junk", "12", ""])
            d["dwc:decimalLongitude"] = rnd.choice(["junk", "45.1", ""])
    if rnd.random() < 0.5:
        d["dwc:minimumElevationInMeters"] = rnd.choice(ELEVS)
    if rnd.random() < 0.3:
        d["dwc:maximumElevationInMeters"] = rnd.choice(ELEVS)
    if rnd.random() < 0.25:
        d["dwc:minimumDepthInMeters"] = rnd.choice(ELEVS)
    if rnd.random() < 0.25:
        d["dwc:maximumDepthInMeters"] = rnd.choice(ELEVS)
    if rnd.random() < 0.5:
        d["dwc:individualCount"] = rnd.choice(COUNTS)
    if rnd.random() < 0.3:
        d["dwc:coordinateUncertaintyInMeters"] = rnd.choice(COUNTS + ["100.5"])
    if rnd.random() < 0.8:
        g = f"Genus{rnd.randint(0, 50)}"
        e = f"epithet{rnd.randint(0, 99)}"
        d["dwc:genus"] = g
        d["dwc:specificEpithet"] = e
        if rnd.random() < 0.5:
            d["dwc:scientificName"] = f"{g} {e}"
    if rnd.random() < 0.8:
        d["dwc:basisOfRecord"] = rnd.choice(BORS)
    if rnd.random() < 0.5:
        d["dwc:taxonRank"] = rnd.choice(RANKS)
    if rnd.random() < 0.4:
        d["dwc:vernacularName"] = rnd.choice(VERNS)
    if rnd.random() < 0.4:
        d["dwc:associatedSequences"] = rnd.choice(SEQS)
    return d


def norm(r):
    # strip the stub-induced rev_geocode flags and RECOMPUTE the score
    # with the reference's own fn (score subtracts 1 per flag,
    # conversions.py:264-271) so dqs compares cleanly; the engine runs
    # reverse geocoding in the geo-correction operator, not here
    r = dict(r)
    r["flags"] = [f for f in (r.get("flags") or [])
                  if not f.startswith("rev_geocode")]
    r["dqs"] = conversions.score("records", r)
    exp = {}
    dc = r.get("datecollected")
    if dc is not None:
        # the year/month/day fallback path returns a date, not datetime
        days = dc.toordinal() - datetime.date(1970, 1, 1).toordinal()
        if isinstance(dc, datetime.datetime):
            off = int(dc.utcoffset().total_seconds()) if dc.tzinfo else 0
            exp["datecollected"] = (days * 86400 + dc.hour * 3600
                                    + dc.minute * 60 + dc.second
                                    - off) * 1000000 + dc.microsecond
        else:
            exp["datecollected"] = days * 86400 * 1000000
    else:
        exp["datecollected"] = None
    exp["startdayofyear"] = r.get("startdayofyear")
    exp["eventdate"] = r.get("eventdate")
    for k in ("minelevation", "maxelevation", "mindepth", "maxdepth",
              "individualcount", "coordinateuncertainty", "dqs"):
        v = r.get(k)
        exp[k] = round(v, 6) if isinstance(v, float) else v
    for k in ("basisofrecord", "taxonrank", "scientificname", "genus",
              "specificepithet"):
        exp[k] = r.get(k)
    exp["commonnames"] = sorted(r.get("commonnames") or [])
    exp["associatedsequences"] = sorted(r.get("associatedsequences") or [])
    gp = r.get("geopoint")
    exp["geopoint"] = [round(gp[0], 9), round(gp[1], 9)] if gp else None
    exp["flags"] = sorted(f for f in (r.get("flags") or [])
                          if not f.startswith("rev_geocode"))
    return exp


TYPES = ["StillImage", "Sound", "MovingImage", "InteractiveResource",
         "dataset", "images", "junk type", ""]
FORMATS = ["image/jpeg", "image/png", "audio/mpeg", "video/mp4",
           "model/mesh", "text/html", "jpeg", "junk/format", ""]
URIS = ["http://example.org/img.jpg", "https://cdn.x.io/a?b=c", "ftp://f/x",
        "not a uri", ""]
RIGHTS = ["CC BY-NC 4.0", "http://creativecommons.org/licenses/by/4.0/",
          "CC0", "Public Domain", "all rights reserved", "CC BY-SA 3.0", ""]
TAGS = ["specimen, leaf", "Herbarium Sheet", ""]


def gen_media(i):
    d = {}
    if rnd.random() < 0.8:
        d["dc:type"] = rnd.choice(TYPES)
    if rnd.random() < 0.8:
        d["dcterms:format"] = rnd.choice(FORMATS)
    if rnd.random() < 0.7:
        d["ac:accessURI"] = rnd.choice(URIS)
    if rnd.random() < 0.3:
        d["ac:bestQualityAccessURI"] = rnd.choice(URIS)
    if rnd.random() < 0.4:
        d["dc:identifier"] = rnd.choice(URIS)
    if rnd.random() < 0.5:
        d["dcterms:modified"] = rnd.choice(DATES)
    if rnd.random() < 0.4:
        d["ac:tag"] = rnd.choice(TAGS)
    if rnd.random() < 0.5:
        d["exif:PixelXDimension"] = rnd.choice(COUNTS + ["1024"])
        d["exif:PixelYDimension"] = rnd.choice(COUNTS + ["768"])
    if rnd.random() < 0.5:
        d["dcterms:rights"] = rnd.choice(RIGHTS)
    return d


def norm_media(r):
    exp = {}
    mo = r.get("modified")
    if mo is not None:
        days = mo.toordinal() - datetime.date(1970, 1, 1).toordinal()
        off = int(mo.utcoffset().total_seconds()) if isinstance(
            mo, datetime.datetime) and mo.tzinfo else 0
        if isinstance(mo, datetime.datetime):
            exp["modified"] = (days * 86400 + mo.hour * 3600 + mo.minute * 60
                               + mo.second - off) * 1000000 + mo.microsecond
        else:
            exp["modified"] = days * 86400 * 1000000
    else:
        exp["modified"] = None
    for k in ("type", "tag", "format", "mediatype", "accessuri",
              "xpixels", "ypixels"):
        exp[k] = r.get(k)
    v = r.get("dqs")
    exp["dqs"] = round(v, 6) if isinstance(v, float) else v
    exp["flags"] = sorted(r.get("flags") or [])
    return exp


def gen_recordset(i):
    d = {}
    for k, pool in [("idigbio:uuid", ["f1a2-b3", ""]),
                    ("idigbio:dateModified", DATES),
                    ("idigbio:version", COUNTS),
                    ("data_rights", ["CC0", "CC BY", "no rights reserved", ""]),
                    ("link", URIS), ("eml_link", URIS), ("logo_url", URIS),
                    ("collection_name", ["My Recordset", "BIRDS", ""])]:
        if rnd.random() < 0.7:
            d[k] = rnd.choice(pool)
    return d


def gen_publisher(i):
    d = {}
    for k, pool in [("idigbio:uuid", ["ab-cd", ""]),
                    ("idigbio:dateModified", DATES),
                    ("idigbio:version", COUNTS),
                    ("name", ["Pub X", "VertNet", ""])]:
        if rnd.random() < 0.7:
            d[k] = rnd.choice(pool)
    return d


def norm_set(r, keys):
    exp = {}
    dm = r.get("datemodified")
    if dm is not None:
        days = dm.toordinal() - datetime.date(1970, 1, 1).toordinal()
        if isinstance(dm, datetime.datetime):
            off = int(dm.utcoffset().total_seconds()) if dm.tzinfo else 0
            exp["datemodified"] = (days * 86400 + dm.hour * 3600
                                   + dm.minute * 60 + dm.second
                                   - off) * 1000000 + dm.microsecond
        else:
            exp["datemodified"] = days * 86400 * 1000000
    else:
        exp["datemodified"] = None
    for k in keys:
        v = r.get(k)
        exp[k] = round(v, 6) if isinstance(v, float) and k == "dqs" else v
    exp["flags"] = sorted(r.get("flags") or [])
    return exp


import os
os.makedirs(os.path.dirname(OUT), exist_ok=True)
kind = sys.argv[4] if len(sys.argv) > 4 else "records"
with open(OUT, "w") as f:
    for i in range(N):
        if kind == "recordsets":
            d = gen_recordset(i)
            r = conversions.grabAll("recordsets", dict(d))
            f.write(json.dumps({"id": i, "data": d, "exp": norm_set(r,
                ["uuid", "version", "rights", "archivelink", "emllink",
                 "logourl", "name", "dqs"])}) + "\n")
        elif kind == "publishers":
            d = gen_publisher(i)
            r = conversions.grabAll("publishers", dict(d))
            f.write(json.dumps({"id": i, "data": d, "exp": norm_set(r,
                ["uuid", "version", "name", "dqs"])}) + "\n")
        elif kind == "mediarecords":
            d = gen_media(i)
            r = conversions.grabAll("mediarecords", dict(d))
            f.write(json.dumps({"id": i, "data": d,
                                "exp": norm_media(r)}) + "\n")
        else:
            d = gen_record(i)
            r = conversions.grabAll("records", dict(d))
            f.write(json.dumps({"id": i, "data": d, "exp": norm(r)}) + "\n")
print(f"wrote {N} {kind}")
