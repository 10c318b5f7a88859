#!/usr/bin/env python3
"""Differential vectors for the ingest-suspects gate: runs the
reference's is_row_suspect (idigbio_ingestion/ds_sum_counts.py:52-97)
over boundary-focused random counter rows and emits TSV.
graft.ingest.SuspectsDifferentialSpec replays it through
SummaryChecks.suspectTag. A regenerated set replaces one of
src/test/resources/suspects_vectors{,2,3}.tsv; the spec expects 1500
rows per file:
    python3 tools/gen_suspects_differential.py SEED 1500 \
        src/test/resources/suspects_vectorsN.tsv
"""
import sys, types, json, random


def stub(name, **attrs):
    m = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m
    return m


stub("atomicfile", AtomicFile=object)
stub("idb.helpers.logging", idblogger=types.SimpleNamespace(
    info=lambda *a, **k: None))
sys.path.insert(0, "/root/reference")
import idb.helpers  # noqa: E402
sys.modules["idb.helpers.logging"].__package__ = "idb.helpers"
from idigbio_ingestion.ds_sum_counts import is_row_suspect  # noqa: E402

rnd = random.Random(int(sys.argv[1]) if len(sys.argv) > 1 else 3)
N = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/suspdiff/vectors.tsv"

# counts drawn to land on and around every rule boundary: ratios
# 0.9/1.1 (churn), 0.2 (record deletes), 0.45 (new records),
# 0.06/0.4 (media, gated at count > 400), plus zeros and equalities
def count():
    return rnd.choice([0, 0, 1, 2, 5, 9, 10, 11, 20, 45, 55, 100, 399,
                       400, 401, 500, 1000, rnd.randint(0, 2000)])


rows = []
for i in range(N):
    rc = count()
    row = {
        "datafile_ok": rnd.choice([True, True, True, False]),
        "records_count": rc,
        "records_create": rnd.choice([0, rc, count()]),
        "records_update": rnd.choice([0, count()]),
        "records_delete": rnd.choice([0, count()]),
        "mediarecords_count": (mc := count()),
        "mediarecords_create": rnd.choice([0, mc, count()]),
        "mediarecords_update": rnd.choice([0, count()]),
        "mediarecords_delete": rnd.choice([0, count()]),
    }
    tag = is_row_suspect(dict(row))
    rows.append((row, tag if tag else "OK"))

import os
os.makedirs(os.path.dirname(OUT), exist_ok=True)
with open(OUT, "w") as f:
    for i, (row, tag) in enumerate(rows):
        f.write(f"{i}\t{int(row['datafile_ok'])}\t"
                + "\t".join(str(row[k]) for k in (
                    "records_count", "records_create", "records_update",
                    "records_delete", "mediarecords_count",
                    "mediarecords_create", "mediarecords_update",
                    "mediarecords_delete")) + f"\t{tag}\n")
print(f"wrote {N} suspect vectors")
