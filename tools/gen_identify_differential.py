#!/usr/bin/env python3
"""Differential vectors for the identifier-extraction cascade: runs the
REFERENCE's identifyRecord (idigbio_ingestion/db_check.py:152-165, with
mungeid :60-61 and idFromRR :98-109) over structured-random flat records
and emits JSONL {id, type, rsid, data, exp}.
graft.ingest.IdentifyDifferentialSpec replays it through
graft.ingest.Identify.candidates, comparing each record's full ordered
(field, id) candidate list. A regenerated set replaces one of
src/test/resources/identify_vectors{,2,3}.jsonl; the spec expects 500
records per file:
    python3 tools/gen_identify_differential.py SEED 500 \
        src/test/resources/identify_vectorsN.jsonl

Sandbox stubs replace only service plumbing (postgres, S3, libmagic,
loggers); the identification logic under test is the reference's own
bytecode.
"""
import sys, types, json, random


def stub(name, **attrs):
    m = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m
    return m


class _Dummy:
    def __call__(self, *a, **k):
        return self

    def __getattr__(self, name):
        return self


dummy = _Dummy()

stub("magic", from_file=lambda *a, **k: "application/zip",
     from_buffer=lambda *a, **k: "application/octet-stream")
stub("atomicfile", AtomicFile=object)
stub("psycopg2", DatabaseError=Exception)
stub("psycopg2.extras", DictCursor=object)
stub("botocore", )
stub("botocore.exceptions", ClientError=Exception)
stub("idb.stats", index_record=dummy, api_client=dummy)
stub("idb.config", config={}, ENV="sandbox", IDB_UUID="x")
stub("idb.postgres_backend", apidbpool=dummy, NamedTupleCursor=object)
stub("idb.postgres_backend.db", PostgresDB=dummy, RecordSet=dummy)
stub("idb.helpers.logging", idblogger=dummy, LoggingContext=dummy)
stub("idb.helpers.storage", IDigBioStorage=dummy)
stub("idigbio_ingestion.lib.dwca", Dwca=object)
stub("idigbio_ingestion.lib.delimited", DelimitedFile=object)
sys.path.insert(0, "/root/reference")
import idb.helpers  # noqa: E402
for n in ("idb.stats", "idb.config", "idb.postgres_backend",
          "idb.helpers.logging", "idb.helpers.storage"):
    sys.modules[n].__package__ = n.rsplit(".", 1)[0]
import idigbio_ingestion  # noqa: E402
for n in ("idigbio_ingestion.lib.dwca", "idigbio_ingestion.lib.delimited"):
    sys.modules[n].__package__ = "idigbio_ingestion.lib"
from idigbio_ingestion.db_check import identifyRecord  # noqa: E402

rnd = random.Random(int(sys.argv[1]) if len(sys.argv) > 1 else 11)
N = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/identdiff/vectors.jsonl"

TYPES = ["dwc:Occurrence", "dwc:Multimedia", "dcterms", "dwc:Taxon"]
FIELDS = ["idigbio:recordId", "idigbio:recordID", "ac:providerManagedID",
          "dcterms:identifier", "dwc:occurrenceID", "id", "ID",
          "dwc:ResourceRelationship", "dwc:basisOfRecord"]

# value alphabet exercises the BOM-only bad_char_re, Python str.strip's
# full Unicode whitespace set (incl. \x1c-\x1f, NBSP, ideographic
# space), case folding, and the rs\id separator literal
PIECES = ["ABC", "def", "Xy-9", "urn:uuid:A1B2", "12345", "UCONN",
          "﻿", " ", "　", "\x1c", "\x1d", "\x1f",
          "\t", "\n", " ", "\x01", "\x7f", "\\", "/", ":", ".",
          "İ", "ß", "Müller"]


def value():
    k = rnd.randint(0, 6)
    return "".join(rnd.choice(PIECES) for _ in range(k))


rows = []
for i in range(N):
    t = rnd.choice(TYPES)
    data = {}
    for f in FIELDS:
        if rnd.random() < 0.45:
            data[f] = value()
    # force the UConn-exception comparison path often: equal (post-lower)
    # or unequal pairs of ac:providerManagedID / dcterms:identifier
    if rnd.random() < 0.4:
        v = value()
        data["ac:providerManagedID"] = v
        data["dcterms:identifier"] = (
            v.upper() if rnd.random() < 0.5 else value())
    rsid = rnd.choice(["rs1", "RS-2", "40f0a7c4"])
    exp = [[f, cid] for (_etag, f, cid)
           in identifyRecord(t, "etag0", dict(data), rsid)]
    rows.append({"id": i, "type": t, "rsid": rsid, "data": data,
                 "exp": exp})

import os
os.makedirs(os.path.dirname(OUT), exist_ok=True)
with open(OUT, "w") as f:
    for r in rows:
        f.write(json.dumps(r, ensure_ascii=True) + "\n")
print(f"wrote {N} identify vectors")
