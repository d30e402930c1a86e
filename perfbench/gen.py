"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, two seeds write different ones. Nothing here
imports the engine, so a change to the engine cannot change a
workload's inputs.

- ``relayout_fixture``: the committed base fixture (perfbench/fixture,
  the sf0.01 tables) with a seed-shuffled row order, split over a fixed
  file count per table. Rows and parquet column types are unchanged,
  so the cached oracle answers hold for every seed.
- ``prisma_fixture``: Prisma-shaped API payloads (login, inventory,
  per-service resource types, policies, per-policy alert page chains)
  plus the report the pipeline must publish, derived from the same
  ground truth.
- ``heaps_corpus``: a document stream with a Heaps-law vocabulary and
  planted near-duplicates of earlier documents, one parquet file per
  micro-batch.

Sizes come from ``workloads.json`` (``load_spec``), the one place they
are set.
"""
import datetime
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_FIXTURE = os.path.join(HERE, "fixture")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def load_spec():
    """The workloads' sizes and settings (``perfbench/workloads.json``)."""
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def _rng(seed, label):
    # str seeds hash through sha512: stable across processes and
    # independent of PYTHONHASHSEED
    return random.Random(f"perfbench:{seed}:{label}")


def _dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---- fixture re-layout (query_mix) ----

def relayout_fixture(out_dir, seed, files):
    """Write every base table as ``<out_dir>/<table>.parquet/part-*.parquet``
    with a seed-permuted row order split over ``files`` files. (The file
    count is not drawn from the seed: it sets the scan split count, and a
    seed-drawn count moved query times by ~25% from seed to seed.)
    Returns ``{table: {"rows", "files", "bytes"}}``."""
    sizes = {}
    for name in TABLES:
        table = pq.read_table(os.path.join(BASE_FIXTURE, f"{name}.parquet"))
        rng = _rng(seed, f"relayout:{name}")
        order = list(range(table.num_rows))
        rng.shuffle(order)
        table = table.take(pa.array(order, type=pa.int64()))
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        step = math.ceil(table.num_rows / files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tdir, f"part-{i:05d}.parquet"))
        sizes[name] = {"rows": table.num_rows, "files": files,
                       "bytes": _dir_bytes(tdir)}
    return sizes


# ---- Prisma API payloads (alert_etl) ----

METRICS = ["criticalSeverityFailedResources", "highSeverityFailedResources",
           "mediumSeverityFailedResources", "lowSeverityFailedResources",
           "informationalSeverityFailedResources", "passedResources",
           "failedResources", "totalResources"]
CLOUDS = ["aws", "azure", "gcp", "alibaba_cloud"]
SEVERITIES = ["critical", "high", "medium", "low", "informational"]
POLICY_TYPES = ["config", "network", "audit_event", "iam"]


def _fmt_ts(ms):
    return datetime.datetime.fromtimestamp(ms // 1000, datetime.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def _fmt_day(ms):
    return datetime.datetime.fromtimestamp(ms // 1000, datetime.timezone.utc) \
        .strftime("%Y-%m-%d")


def _aggregates(rng, key, names):
    rows = []
    for n in names:
        rec = {key: n}
        for m in METRICS:
            # a seeded share of metrics is absent: the report fills 0
            if rng.random() < 0.15:
                continue
            rec[m] = rng.randrange(0, 500)
        rows.append(rec)
    return rows


def prisma_fixture(seed, spec):
    """Payloads the loopback server serves, and the report they imply.
    ``spec`` is the ``alert_etl`` entry of ``workloads.json``.

    Returns ``(script, truth)``: ``script`` is what the server needs
    (credentials, GET bodies, per-policy page chains); ``truth`` holds
    the expected published tree (date folder and per-file header + rows
    in the reference's QUOTE_NONNUMERIC dialect) and the alert count.
    """
    services, types_per_service = spec["services"], spec["types_per_service"]
    policies, accounts = spec["policies"], spec["accounts"]
    page_size, alerts = spec["page_size"], spec["alerts"]
    rng = _rng(seed, "prisma")
    day0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    day = day0 + datetime.timedelta(days=rng.randrange(366))
    ts = int((day + datetime.timedelta(hours=9, seconds=rng.randrange(3600)))
             .timestamp() * 1000)
    req_ts = ts - rng.randrange(1000, 60000)
    svc_names = [f"Service {i} {rng.choice(['EC2', 'S3', 'VM', 'GKE'])}"
                 for i in range(services)]
    inventory = {"timestamp": ts, "requestedTimestamp": req_ts,
                 "summary": {"totalResources": rng.randrange(1000)},
                 "groupedAggregates": _aggregates(rng, "serviceName", svc_names)}
    rtypes = {}
    for i, svc in enumerate(svc_names):
        names = [f"{svc} type {j}" for j in range(rng.randint(1, types_per_service))]
        rtypes[i] = {"timestamp": ts, "requestedTimestamp": req_ts,
                     "groupedAggregates": _aggregates(rng, "resourceTypeName", names)}
    accts = []
    for a in range(accounts):
        groups = [] if rng.random() < 0.2 else \
            sorted(f"group-{rng.randrange(6)}" for _ in range(rng.randint(1, 2)))
        accts.append({"account": f"acct-{a}", "accountId": f"{100000 + a * 7919}",
                      "cloudType": rng.choice(CLOUDS), "cloudAccountGroups": groups})
    # a fixed alert total split over the policies at seeded cut points:
    # the per-policy page chains vary with the seed, the work per run
    # does not
    cuts = sorted(rng.randrange(alerts + 1) for _ in range(policies - 1))
    counts = [b - a for a, b in zip([0] + cuts, cuts + [alerts])]
    pols, pages = [], {}
    for p in range(policies):
        pid = f"pol-{seed}-{p:03d}"
        count = counts[p]
        # one name carries a quote and a comma: the dialect must escape it
        name = f'Policy {p} "strict", open' if p == 3 else f"Policy {p}"
        pols.append({"policyId": pid, "policyName": name,
                     "policyType": rng.choice(POLICY_TYPES),
                     "severity": rng.choice(SEVERITIES), "alertCount": count})
        items = []
        for i in range(count):
            acct = accts[min(int(rng.paretovariate(1.2)) - 1, accounts - 1)]
            items.append({"id": f"{pid}-a{i}", "resource": dict(acct)})
        chain, i = [], 0
        while True:
            page = items[i:i + page_size]
            body = {"policyId": pid, "items": page}
            i += page_size
            if len(page) == page_size:
                body["nextPageToken"] = f"{pid}-p{len(chain) + 1}"
            chain.append(body)
            if len(page) < page_size:
                break
        pages[pid] = chain
    script = {
        "username": "bench-user", "password": "bench-pass", "prismaId": "bench-id",
        "token": f"token-{seed}", "page_size": page_size,
        "get": {"/v2/inventory": inventory,
                "/policy": {"policies": pols},
                **{f"/v2/resource-types/{i}": rt for i, rt in rtypes.items()}},
        "services": svc_names,
        "pages": pages,
    }
    return script, _expected_report(script, ts, req_ts)


def _q(v):
    """One cell in pandas' QUOTE_NONNUMERIC dialect (strings quoted,
    quotes doubled, missing strings as an empty quoted cell)."""
    if isinstance(v, int):
        return str(v)
    return '"' + ("" if v is None else str(v)).replace('"', '""') + '"'


def _expected_report(script, ts, req_ts):
    date = _fmt_day(ts)
    d = datetime.date.fromisoformat(date)
    month = d.strftime("%B")
    folder = f"{d.year}/{month}/{d.day}-{month}-{d.year}"
    inv = script["get"]["/v2/inventory"]
    inv_rows = [[g["serviceName"]] + [g.get(m, 0) for m in METRICS] +
                [_fmt_ts(ts), _fmt_ts(req_ts), date]
                for g in inv["groupedAggregates"]]
    inv_head = ["serviceName"] + METRICS + ["timestamp", "requestedTimestamp",
                                            "transaction_date"]
    rt_rows = []
    for i, svc in enumerate(script["services"]):
        for g in script["get"][f"/v2/resource-types/{i}"]["groupedAggregates"]:
            rt_rows.append([g["resourceTypeName"]] + [g.get(m, 0) for m in METRICS] +
                           [_fmt_ts(ts), date, svc])
    rt_head = ["resourceTypeName"] + METRICS + ["timestamp", "transaction_date",
                                                "resourceIdentity"]
    per = {}
    n_alerts = 0
    for pol in script["get"]["/policy"]["policies"]:
        for page in script["pages"][pol["policyId"]]:
            for it in page["items"]:
                n_alerts += 1
                r = it["resource"]
                key = (pol["policyId"], r["accountId"])
                grp = r["cloudAccountGroups"][0] if r["cloudAccountGroups"] else None
                per.setdefault(key, [pol, r, grp, 0])[3] += 1
    alert_rows = [[pol["policyName"], pol["policyType"], pol["severity"].upper(),
                   r["cloudType"].upper(), r["account"], r["accountId"], grp,
                   "fail", n, _fmt_ts(ts), _fmt_ts(req_ts), date]
                  for pol, r, grp, n in per.values()]
    alert_head = ["Policy Name", "Policy Type", "Policy Severity", "Cloud Type",
                  "Cloud Account Name", "Cloud Account Id", "Cloud Account Group",
                  "Status", "Failed Resource Count", "timestamp",
                  "requestedTimestamp", "transaction_date"]

    def render(head, rows):
        return {"header": ",".join(_q(h) for h in head),
                "rows": sorted(",".join(_q(v) for v in r) for r in rows)}

    return {"folder": folder, "alerts": n_alerts,
            "files": {"Inventory_Report.csv": render(inv_head, inv_rows),
                      "Inventory_Resource_Type_Report.csv": render(rt_head, rt_rows),
                      "Alert_Report.csv": render(alert_head, alert_rows)},
            "failed_resource_count_sum": sum(r[8] for r in alert_rows)}


# ---- document stream (stream_dedup) ----

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
LANGS = ["en", "es", "de", "zh"]


def heaps_corpus(out_dir, seed, batches, spec, label="stream"):
    """Write ``batches`` parquet files of ``spec["docs_per_batch"]``
    documents each (the documents table's columns) to ``out_dir``, one
    file per micro-batch, with increasing modification times so the
    file source takes them in order.

    The vocabulary grows as the square root of the documents seen so
    far (Heaps' law, as ``ScaleSlope.genDocumentsHeaps``), so shingle
    document frequencies stay bounded as the stream grows. Words are
    skewed towards the common ones. A ``spec["dup_share"]`` share of
    documents copies a random earlier document, often one of an earlier
    micro-batch, and appends one word: a planted near-duplicate the
    stream must pair across batches. Returns ``{"docs", "files",
    "bytes"}``."""
    rng = _rng(seed, f"heaps:{label}")
    per = spec["docs_per_batch"]
    words = []
    os.makedirs(out_dir)
    for b in range(batches):
        cols = {f: [] for f in DOC_SCHEMA.names}
        for k in range(per):
            i = b * per + k
            vocab = 30 + int(10 * math.sqrt(i))
            if words and rng.random() < spec["dup_share"]:
                w = words[rng.randrange(len(words))] + [f"w{rng.randrange(vocab)}"]
            else:
                w = [f"w{int(vocab * rng.random() ** 2)}" for _ in range(rng.randint(12, 61))]
            words.append(w)
            text = " ".join(w)
            cols["doc_id"].append(i)
            cols["text"].append(text)
            cols["lang"].append(LANGS[rng.randrange(4)])
            cols["source"].append(f"src{i % 10}")
            cols["n_chars"].append(len(text))
        path = os.path.join(out_dir, f"part-{b:05d}.parquet")
        pq.write_table(pa.Table.from_pydict(cols, schema=DOC_SCHEMA), path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    return {"docs": batches * per, "files": batches, "bytes": _dir_bytes(out_dir)}


def write_json(path, obj):
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
