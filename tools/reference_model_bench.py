#!/usr/bin/env python3
"""Faithful in-memory model of the reference's parser2.py dataflow (same
row-at-a-time dict pipeline, same O(N^2*M) rescans — network and S3 PUTs
removed so this measures pure compute), timed at the reference's published
data scale: 3 fact CSVs of ~289 rows x ~1100 date columns + a ~4300-row
lookup. The Spark-side timing of the same job (graft.Pipelines.parser2 plus
the flat JSON, with an output check) is the jhu-daily workload of jhubench/
(`python3 jhubench/run.py --workload jhu-daily`; shapes in
jhubench/WORKLOADS.md).

Usage: reference_model_bench.py [rows] [datecols]
"""
import csv
import io
import json
import sys
import time
from datetime import datetime
from re import match


def gen_csv(rows, datecols, measure_seed):
    dates = []
    d, m, y = 22, 1, 20
    for i in range(datecols):
        dates.append(f"{m}/{d}/{y}")
        d += 1
        if d > 28:
            d = 1
            m += 1
            if m > 12:
                m = 1
                y += 1
    header = ["Province/State", "Country/Region", "Lat", "Long"] + dates
    out = io.StringIO()
    w = csv.writer(out)
    w.writerow(header)
    for r in range(rows):
        prov = "" if r % 3 == 0 else f"Prov{r % 7}"
        row = [prov, f"Country{r}", str(r % 90), str(-(r % 180))]
        row += [str((r * 31 + i * measure_seed) % 1000) for i in range(datecols)]
        w.writerow(row)
    return out.getvalue()


def gen_lookup(n):
    out = io.StringIO()
    w = csv.writer(out)
    w.writerow(["Country_Region", "iso2", "Lat", "Long_"])
    for i in range(n):
        w.writerow([f"Country{i % 400}", f"I{i % 99}", str(i % 90), str(i % 180)])
    return out.getvalue()


# ---- verbatim semantics of parser2.py (fix_date_format/fix_record/joins) ----

def fix_date_format(s):
    return datetime.strptime(s, "%m/%d/%y")


def fix_record(record_dict, deaths_dict, recovered_dict):
    fixed = {}
    fixed["time_series"] = []
    for key in record_dict.keys():
        if match(r"^\d{1,2}/\d{1,2}/\d{2}$", key):
            dr = {"date": str(fix_date_format(key)),
                  "confirmed": int(record_dict[key])}
            try:
                dr["deaths"] = int(deaths_dict[key])
            except KeyError:
                dr["deaths"] = 0
            try:
                dr["recovered"] = int(recovered_dict[key])
            except KeyError:
                dr["recovered"] = 0
            fixed["time_series"].append(dr)
        elif key in ["Lat", "Long"]:
            fixed[key.lower()] = float(record_dict[key])
        else:
            fixed[key.lower()] = record_dict[key]
    return fixed


def main_handler(confirmed_csv, deaths_csv, recovered_csv, lookup_csv):
    n = 0
    outputs = []
    for row in csv.DictReader(io.StringIO(confirmed_csv)):
        deaths_row, recovered_row = {}, {}
        for d in csv.DictReader(io.StringIO(deaths_csv)):  # O(N^2) rescan
            if (d["Country/Region"] == row["Country/Region"]
                    and d["Province/State"] == row["Province/State"]):
                deaths_row = d
                for r in csv.DictReader(io.StringIO(recovered_csv)):
                    if (r["Country/Region"] == row["Country/Region"]
                            and r["Province/State"] == row["Province/State"]):
                        recovered_row = r
                        break
                break
        rec = fix_record(row, deaths_row, recovered_row)
        for lk in csv.DictReader(io.StringIO(lookup_csv)):  # O(N*M) rescan
            if lk["Country_Region"] == row["Country/Region"]:
                rec["iso2"] = lk["iso2"]
                break
        outputs.append(json.dumps(rec))
        n += 1
    return n, outputs


if __name__ == "__main__":
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 289
    datecols = int(sys.argv[2]) if len(sys.argv) > 2 else 1100
    confirmed = gen_csv(rows, datecols, 1)
    deaths = gen_csv(rows, datecols, 2)
    recovered = gen_csv(rows, datecols, 3)
    lookup = gen_lookup(4300)
    t0 = time.time()
    n, outputs = main_handler(confirmed, deaths, recovered, lookup)
    dt = time.time() - t0
    print(json.dumps({"impl": "reference_model(parser2.py)", "rows": n,
                      "datecols": datecols, "sec": round(dt, 2),
                      "records_per_sec": round(n / dt, 1)}))
