#!/usr/bin/env python3
"""Differential vectors for the KV record-correction engine.

Runs the REFERENCE's RecordCorrector.correct_record
(idb/corrections/record_corrector.py:186-255) with an injected
in-memory correction store over structured-random records, and emits
JSONL: first line {"rules": [...]}, then {id, data, exp:{fields, flags}}
lines. graft.etl.CorrectionsDifferentialSpec replays it through
graft.etl.Corrections.apply. A regenerated set replaces one of
src/test/resources/corrections_vectors{,2,3}.jsonl; the spec expects
400 records per file:
    python3 tools/gen_corrections_differential.py SEED 400 \
        src/test/resources/corrections_vectorsN.jsonl

Same-length key tuples iterate in SET order in the reference (sorted
by len only), which is process-dependent — the synthetic rule set
keeps same-length tuples write-disjoint so the reference's own
behavior is deterministic.
"""
import sys, types, json, random


def stub(name, **attrs):
    m = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m
    return m


stub("bsddb3", db=types.SimpleNamespace(DBEnv=None, DB=None, DB_CREATE=0,
                                        DB_INIT_MPOOL=0, DB_HASH=0,
                                        DB_RDONLY=0))
stub("idb.postgres_backend", apidbpool=None, NamedTupleCursor=None)
sys.path.insert(0, "/root/reference")
import idb  # noqa: E402
sys.modules["idb.postgres_backend"].__package__ = "idb"
from idb.helpers.etags import objectHasher  # noqa: E402
from idb.corrections.record_corrector import RecordCorrector  # noqa: E402

rnd = random.Random(int(sys.argv[1]) if len(sys.argv) > 1 else 5)
N = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/corrdiff/vectors.jsonl"

# Same-length key tuples stay WRITE-DISJOINT (no 1-tuple writes a
# field another 1-tuple reads): the reference iterates same-length
# tuples in SET order, which varies per process. Cross-length chains
# (1-tuple corrects genus, the 2-tuple then reads it) are
# deterministic and deliberately exercised - the reference hashes the
# ORIGINAL value for originally-present fields (get_etag :195-206).
RULES = [
    {"k": {"dwc:country": "united states"},
     "v": {"idigbio:isoCountryCode": "usa"}},
    {"k": {"dwc:country": "usa"},
     "v": {"dwc:country": "united states",
           "idigbio:isoCountryCode": "usa"}},
    {"k": {"dwc:kingdom": "plantae"}, "v": {"dwc:phylum": "tracheophyta"}},
    {"k": {"dwc:genus": "quercsu"}, "v": {"dwc:genus": "quercus"}},
    {"k": {"dwc:genus": "quercus", "dwc:specificepithet": "alba"},
     "v": {"dwc:scientificname": "quercus alba", "dwc:family": "fagaceae"}},
    # kingdom corrections via 2-tuples: deterministic order after the
    # 1-tuples; exercises the protected-kingdom guard both ways
    {"k": {"dwc:country": "france", "dwc:kingdom": "animalia"},
     "v": {"dwc:kingdom": "plantae", "idigbio:isoCountryCode": "fra"}},
    {"k": {"dwc:country": "france", "dwc:kingdom": "vehiclia"},
     "v": {"dwc:kingdom": "animalia", "idigbio:isoCountryCode": "fra"}},
]

COUNTRIES = ["United States", "USA", "usa", "France", "FRANCE", "Brazil", ""]
KINGDOMS = ["Animalia", "Plantae", "plantae", "Vehiclia", "Fungi", "junk"]
GENERA = ["Quercus", "quercsu", "QUERCSU", "Pinus"]
EPITHETS = ["alba", "ALBA", "rubra"]


def gen(i):
    d = {}
    if rnd.random() < 0.7:
        d["dwc:country"] = rnd.choice(COUNTRIES)
    if rnd.random() < 0.6:
        d["dwc:kingdom"] = rnd.choice(KINGDOMS)
    if rnd.random() < 0.3:
        d["dwc:phylum"] = rnd.choice(["Tracheophyta", "Chordata", ""])
    if rnd.random() < 0.7:
        d["dwc:genus"] = rnd.choice(GENERA)
        if rnd.random() < 0.8:
            d["dwc:specificepithet"] = rnd.choice(EPITHETS)
    if rnd.random() < 0.4:
        d["dwc:scientificname"] = rnd.choice(
            ["Quercus alba", "Original name", ""])
    if rnd.random() < 0.2:
        d["dwc:family"] = "Presetaceae"
    return d


rc = RecordCorrector(reload=False)
rc.keytups = set(tuple(sorted(r["k"].keys())) for r in RULES)
store = {}
for r in RULES:  # last-write-wins per etag, like the KV file merge
    store[objectHasher("sha256", r["k"])] = r["v"]
rc.corrections_etag_bdb = lambda etag: (
    {etag: store[etag]} if etag in store else None)

FIELDS = ["dwc:country", "idigbio:isoCountryCode", "dwc:kingdom",
          "dwc:phylum", "dwc:genus", "dwc:specificepithet",
          "dwc:scientificname", "dwc:family"]

import os
os.makedirs(os.path.dirname(OUT), exist_ok=True)
with open(OUT, "w") as f:
    f.write(json.dumps({"rules": RULES}) + "\n")
    for i in range(N):
        d = gen(i)
        cd, _ = rc.correct_record(dict(d))
        exp = {k: cd.get(k) for k in FIELDS}
        flags = sorted(k[len("flag_"):] for k, v in cd.items()
                       if k.startswith("flag_") and v is True)
        f.write(json.dumps({"id": i, "data": d,
                            "exp": {"fields": exp, "flags": flags}}) + "\n")
print(f"wrote {N} correction vectors")
