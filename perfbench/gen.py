"""Seeded input generators for the benchmark workloads.

Each generator writes one workload's inputs plus a ``truth.json`` holding
the expected outputs the harness checks against. The same seed always gives
byte-identical files. Every workload also gets a small ``warm`` input (same
generator, one tenth of the size, derived seed) that set-up uses to warm
the JIT and codegen; the timed runs read only the ``full`` input.

The generator parameters below are the input properties each layer's cost
depends on; README.md lists them per workload.
"""

import datetime as dt
import hashlib
import json
import math
import os
import random

# ---------------------------------------------------------------- etl_pipeline

ETL = dict(
    participants=1000,   # chunk_size 100 -> 10 extract chunks
    chunk_size=100,
    events=["screening_arm_1", "visit_1_arm_1", "visit_2_arm_1", "visit_3_arm_1"],
    include_fields=14,
    restricted_fields=3,  # Include, restricted to the first two events
    exclude_fields=5,
    calc_share=0.8,       # participants present in the calc-var wide table
    secondary_share=0.9,  # participants present in the secondary-id map
    bad_dates=15,         # planted unparseable date rows (error channel)
    unknown_fields=12,    # planted rows whose field is not in the field map
)

DATE_FIELDS = [  # (field, status, value format, render format)
    ("dt_year", "TransformDateYear", "%Y-%m-%d", "%Y"),
    ("dt_date", "TransformDate", "%Y-%m-%d", "%Y-%m-%d"),
    ("dt_min", "TransformDateTime", "%Y-%m-%d %H:%M", "%Y-%m-%d %H:%M"),
    ("dt_sec", "TransformDateTimeSeconds", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M:%S"),
]
STANDARD_DATE = dt.datetime(2010, 1, 1)
EAV_HEADER = "record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value"


def row_hash(*parts):
    """Order-independent multiset hash term: the first 8 bytes of
    md5(parts joined by 0x1f) as an unsigned 64-bit integer. Summed mod 2^64
    over rows; the harness computes the same sum."""
    d = hashlib.md5("\x1f".join(parts).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big")


def gen_etl(out, seed, scale):
    rnd = random.Random(seed)
    p = ETL
    n = max(p["chunk_size"], int(p["participants"] * scale))
    events = p["events"]
    inc = [f"inc_{i:02d}" for i in range(p["include_fields"])]
    rinc = [f"rinc_{i:02d}" for i in range(p["restricted_fields"])]
    exc = [f"exc_{i:02d}" for i in range(p["exclude_fields"])]
    restrict = ",".join(events[:2])

    fmap = [("field_name", "status", "restrict_to_event_list")]
    fmap += [(f, "Include", "") for f in inc]
    fmap += [(f, "Include", restrict) for f in rinc]
    fmap += [(f, "Exclude", "") for f in exc]
    fmap += [("np_dob", "Exclude", "")]
    fmap += [(f, s, "") for f, s, _, _ in DATE_FIELDS]
    status = {f: (s, r) for f, s, r in fmap[1:]}
    date_fmt = {f: (vf, rf) for f, _, vf, rf in DATE_FIELDS}

    ids = [str(100000 + i) for i in range(n)]
    rows, dob = [], {}
    for rid in ids:
        d = dt.datetime(1950, 1, 1) + dt.timedelta(days=rnd.randrange(0, 50 * 365))
        dob[rid] = d
        for ei, ev in enumerate(events):
            if ei == 0:
                rows.append((rid, ev, "np_dob", d.strftime("%Y-%m-%d")))
                rows.append((rid, ev, "redcap_data_access_group", f"site_{rnd.randrange(5)}"))
            for f in inc:
                rows.append((rid, ev, f, str(rnd.randrange(0, 100000))))
            for f in rinc:
                rows.append((rid, ev, f, f"v{rnd.randrange(1000)}"))
            for f in exc:
                rows.append((rid, ev, f, f"phi{rnd.randrange(10 ** 6)}"))
            for f, _, vf, _ in DATE_FIELDS:
                t = d + dt.timedelta(seconds=rnd.randrange(0, 60 * 365 * 86400))
                rows.append((rid, ev, f, t.strftime(vf)))
            rows.append((rid, ev, "form_a_complete", str(rnd.choice([0, 1, 2]))))
    # planted malformed rows: distinct (record, field, value) so the error
    # channel's distinct rows equal the planted count
    bad = set()
    while len(bad) < max(1, int(p["bad_dates"] * scale)):
        bad.add((rnd.choice(ids), rnd.choice(events[1:]), DATE_FIELDS[rnd.randrange(4)][0],
                 f"2015-13-{rnd.randrange(32, 99)}"))
    unknown = [(rnd.choice(ids), rnd.choice(events), f"unknown_field_{i:02d}", "x")
               for i in range(max(1, int(p["unknown_fields"] * scale)))]
    rows += sorted(bad) + unknown
    rnd.shuffle(rows)  # real exports are not sorted by record

    kept_n, kept_h = 0, 0
    for rid, ev, f, v in rows:
        keep, val = False, v
        if f == "redcap_data_access_group" or f.endswith("_complete"):
            keep = True
        elif f in status:
            s, r = status[f]
            if s == "Include":
                keep = not r or ev in r.split(",")
            elif f in date_fmt:
                vf, rf = date_fmt[f]
                try:
                    t = dt.datetime.strptime(v, vf)
                except ValueError:
                    t = None
                if t is not None:
                    keep, val = True, (t + (STANDARD_DATE - dob[rid])).strftime(rf)
        if keep:
            kept_n += 1
            kept_h = (kept_h + row_hash(rid, f, val)) % (1 << 64)

    calc_ids = [i for i in ids if rnd.random() < p["calc_share"]]
    sec_ids = [i for i in ids if rnd.random() < p["secondary_share"]]
    calc_cols = ["calc_bmi", "calc_egfr", "calc_age_bucket"]

    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "eav.csv"), "w") as fh:
        fh.write(EAV_HEADER + "\n")
        for rid, ev, f, v in rows:
            fh.write(f"{rid},{ev},,,{f},{v}\n")
    with open(os.path.join(out, "fieldmap.csv"), "w") as fh:
        fh.writelines(",".join(f'"{c}"' if "," in c else c for c in r) + "\n" for r in fmap)
    with open(os.path.join(out, "calcvars.csv"), "w") as fh:
        fh.write("study_id," + ",".join(calc_cols) + "\n")
        for rid in calc_ids:
            fh.write(f"{rid},{rnd.uniform(15, 40):.1f},{rnd.randrange(20, 120)},{rnd.randrange(8)}\n")
    with open(os.path.join(out, "secondary.csv"), "w") as fh:
        fh.write("redcap_record_id,secondary_id\n")
        for rid in sec_ids:
            fh.write(f"{rid},S-{rnd.randrange(10 ** 8):08d}\n")
    return dict(
        eav_rows=len(rows), participants=n, chunks=math.ceil(n / p["chunk_size"]),
        kept_rows=kept_n, kept_hash=f"{kept_h:016x}",
        transform_records=len(calc_ids) * len(calc_cols) + n,
        error_rows=len(bad), unknown_fields=len(unknown),
        field_status_mix=dict(include=len(inc), include_restricted=len(rinc),
                              exclude=len(exc), date=len(DATE_FIELDS), dob=1,
                              unknown_planted=len(unknown)))


# ---------------------------------------------------------------- graph_communities

GRAPH = dict(
    nodes=6000,
    communities=40,
    edges=30000,        # undirected, before dedup
    p_in=0.95,          # share of edges drawn inside a community
    degree_alpha=2.2,   # Pareto exponent of node weights (degree skew)
    pagerank_iters=5,
)


def gen_graph(out, seed, scale):
    rnd = random.Random(seed)
    p = GRAPH
    n = max(200, int(p["nodes"] * scale))
    m = int(p["edges"] * scale) if scale < 1 else p["edges"]
    k = p["communities"]
    comm = [rnd.randrange(k) for _ in range(n)]
    w = [min(50.0, rnd.paretovariate(p["degree_alpha"] - 1)) for _ in range(n)]
    members = [[] for _ in range(k)]
    for v in range(n):
        members[comm[v]].append(v)
    cum_all = _cumsum(w)
    cum_c = [_cumsum([w[v] for v in mem]) for mem in members]
    sizes = _cumsum([len(mem) for mem in members])
    edges = set()
    while len(edges) < m:
        if rnd.random() < p["p_in"]:
            c = _pick(rnd, sizes)
            u = members[c][_pick(rnd, cum_c[c])]
            v = members[c][_pick(rnd, cum_c[c])]
        else:
            u, v = _pick(rnd, cum_all), _pick(rnd, cum_all)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "edges.csv"), "w") as fh:
        fh.write("src,dst\n")
        for u, v in sorted(edges):  # mirrored: pageRank(symmetric = true)
            fh.write(f"{u},{v}\n{v},{u}\n")
    touched = {x for e in edges for x in e}
    with open(os.path.join(out, "labels.csv"), "w") as fh:  # the planted communities
        fh.write("node,label\n")
        fh.writelines(f"{v},{comm[v]}\n" for v in sorted(touched))
    return dict(nodes=len(touched), undirected_edges=len(edges), directed_edges=2 * len(edges),
                communities=k, degree_alpha=p["degree_alpha"], p_in=p["p_in"],
                pagerank_iters=p["pagerank_iters"])


def _cumsum(xs):
    out, s = [], 0.0
    for x in xs:
        s += x
        out.append(s)
    return out


def _pick(rnd, cum):
    import bisect
    return min(len(cum) - 1, bisect.bisect_right(cum, rnd.random() * cum[-1]))


GENERATORS = {
    "etl_pipeline": gen_etl,
    "graph_communities": gen_graph,
}


def generate(workload, seed, root):
    """Write full + warm inputs for (workload, seed) under root; returns the
    input directory. Cached: a finished directory is reused as is."""
    src = open(__file__, "rb").read()
    tag = hashlib.sha1(src).hexdigest()[:10]
    d = os.path.join(root, f"{workload}-seed{seed}-{tag}")
    if os.path.exists(os.path.join(d, "truth.json")):
        return d
    tmp = d + ".tmp"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    gen = GENERATORS[workload]
    truth = {"full": gen(os.path.join(tmp, "full"), seed, 1.0),
             "warm": gen(os.path.join(tmp, "warm"), seed * 7919 + 17, 0.1)}
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1)
    os.replace(tmp, d)
    return d
