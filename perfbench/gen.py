"""Seeded input generators for the graft benchmark.

Two generators, both pure functions of their arguments:

* ``write_tables`` writes the ten parquet tables the relational and corpus
  headliners read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings) with the schemas and value
  domains of the synthetic testdata the engine is verified on.
* ``write_lake`` writes an NDJSON job-offer lake (a base lake plus K
  landings) and returns the ground truth the job_lake checks compare
  against: raw, malformed, distinct-clean and dated counts per landing.

The program receives only the files; the ground truth stays with the
benchmark.
"""

import datetime as dt
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# relational + corpus tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Documents are skill-bearing texts. Their skill words are the engine's
# skill vocabulary (SkillExtract.vocab), split into four topics: a document
# draws from one topic, and one in thirty borrows a word from another
# topic, so the skill co-occurrence graph is dense inside topics and sparse
# between them (link prediction has missing edges to score). The topic
# split, the shares and the filler words have no source in the repository;
# they are chosen so that every corpus headliner has rows to work on.
DOC_TOPICS = [["spark", "stream", "batch", "window"],
              ["hash", "join", "sort", "merge"],
              ["scan", "filter", "query", "table"],
              ["vector", "fast", "slow", "small"]]
DOC_FILLER = ("a the row column customer order line data agg value key part "
              "group big engine cluster node task stage shuffle cache plan "
              "index record file log metric user event session report model "
              "feature score rank graph edge path cost time rate load").split()
DOC_TOPIC_SHARE = 0.25   # share of a document's words drawn from its topic
DOC_BRIDGE_SHARE = 1 / 30  # documents that borrow a word from another topic
LANGS = [("en", 44), ("zh", 14), ("es", 14), ("de", 14), ("fr", 14)]
EPOCH = dt.datetime(1970, 1, 1)


def _micros(t):
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def _weighted(rng, pairs):
    x = rng.randrange(sum(w for _, w in pairs))
    for v, w in pairs:
        if x < w:
            return v
        x -= w
    raise AssertionError


def _write(out_dir, name, cols, schema):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"),
                   compression="snappy")


def write_tables(out_dir, sf, docs, vecs, seed):
    """Write the ten tables at scale factor ``sf`` (lineitem ~ 6M * sf rows),
    with ``docs`` documents and ``vecs`` embeddings, all drawn from ``seed``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = n_ord * 4
    n_evt = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)

    i32, i64, f64, s, ts = (pa.int32(), pa.int64(), pa.float64(), pa.string(),
                            pa.timestamp("us"))
    _write(out_dir, "region",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out_dir, "customer",
           {"c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                          for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier",
           {"s_suppkey": list(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
            "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                          for _ in range(n_supp)]},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    price = [round(900.0 + (i % 1000) / 10.0, 2) for i in range(n_part)]
    _write(out_dir, "part",
           {"p_partkey": list(range(n_part)),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
            "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
            "p_size": [rng.randrange(1, 51) for _ in range(n_part)],
            "p_retailprice": price},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    day0 = dt.datetime(1995, 1, 1)
    odate = [day0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_ord)]
    _write(out_dir, "orders",
           {"o_orderkey": list(range(n_ord)),
            "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
            "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2)
                             for _ in range(n_ord)],
            "o_orderdate": [_micros(d) for d in odate],
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", ts), ("o_orderpriority", s)]))
    lkeys = [rng.randrange(n_ord) for _ in range(n_line)]
    seen = {}
    lnum = []
    for k in lkeys:
        seen[k] = seen.get(k, 0) + 1
        lnum.append(seen[k])
    lpart = [rng.randrange(n_part) for _ in range(n_line)]
    lqty = [float(rng.randrange(1, 51)) for _ in range(n_line)]
    _write(out_dir, "lineitem",
           {"l_orderkey": lkeys,
            "l_partkey": lpart,
            "l_suppkey": [rng.randrange(n_supp) for _ in range(n_line)],
            "l_linenumber": lnum,
            "l_quantity": lqty,
            "l_extendedprice": [round(q * price[p] * rng.uniform(0.9, 1.1), 2)
                                for q, p in zip(lqty, lpart)],
            "l_discount": [rng.randrange(11) / 100.0 for _ in range(n_line)],
            "l_tax": [rng.randrange(9) / 100.0 for _ in range(n_line)],
            "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
            "l_linestatus": [rng.choice("FO") for _ in range(n_line)],
            "l_shipdate": [_micros(odate[k] + dt.timedelta(days=rng.randrange(1, 122)))
                           for k in lkeys]},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64),
                      ("l_extendedprice", f64), ("l_discount", f64),
                      ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", ts)]))
    t = dt.datetime(2024, 1, 1)
    span = dt.timedelta(days=30) / n_evt
    ets = []
    for _ in range(n_evt):
        t += span * rng.uniform(0.0, 2.0)
        ets.append(_micros(t))
    _write(out_dir, "events",
           {"event_id": list(range(n_evt)),
            "ts": ets,
            "user_id": [rng.randrange(n_users) for _ in range(n_evt)],
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_evt)],
            "value": [round(min(rng.expovariate(1 / 40.0), 490.0) + 0.01, 2)
                      for _ in range(n_evt)],
            "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_evt)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))
    # one document in twenty is an earlier document plus a marker token
    # (the near-duplicates the dedup operators exist to find)
    texts = []
    for i in range(docs):
        if i >= 20 and rng.randrange(20) == 0:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            topic = rng.randrange(len(DOC_TOPICS))
            words = [rng.choice(DOC_TOPICS[topic])
                     if rng.random() < DOC_TOPIC_SHARE else rng.choice(DOC_FILLER)
                     for _ in range(rng.randrange(10, 100))]
            if rng.random() < DOC_BRIDGE_SHARE:
                other = (topic + rng.randrange(1, len(DOC_TOPICS))) % len(DOC_TOPICS)
                words.insert(rng.randrange(len(words)), rng.choice(DOC_TOPICS[other]))
            texts.append(" ".join(words))
    _write(out_dir, "documents",
           {"doc_id": list(range(docs)),
            "text": texts,
            "lang": [_weighted(rng, LANGS) for _ in range(docs)],
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": [len(x) for x in texts]},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))
    # unit vectors; one in twenty is a slightly perturbed earlier vector
    emb = []
    for i in range(vecs):
        if i >= 20 and rng.randrange(20) == 0:
            v = [x + rng.gauss(0.0, 0.01) for x in emb[rng.randrange(i)]]
        else:
            v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        emb.append([x / n for x in v])
    _write(out_dir, "embeddings",
           {"vec_id": list(range(vecs)),
            "embedding": emb,
            "label": [rng.randrange(10) for _ in range(vecs)]},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


# ---------------------------------------------------------------------------
# job-offer lake

VIAS = ["linkedin", "indeed", "welcometothejungle", "apec", "hellowork",
        "Indeed ", "LinkedIn"]
CONTRATS = ["CDI", "cdi", "CDD", "Freelance", "Stage", "Alternance", "", None]
ETUDES = ["Bac+5 Master", "Licence", "Doctorat", "Bac", "BTS", "", None]
EXPERIENCES = ["junior", "5 ans", "senior", "débutant", "3 ans", "expert",
               "", None]
SECTEURS = ["Data, IT", "IT", "Commerce", "Finance, Data", "", None]
TITLE_HEAD = ["data engineer", "data scientist", "développeur", "analyste",
              "architecte cloud", "chef de projet", "commercial", "devops",
              "ingénieur ml", "consultant bi"]
TITLE_TAIL = ["junior", "senior", "confirmé", "h/f", "(F/H)", "lead",
              "stage", "alternance", "- Paris", "remote"]
# vocabulary hits for the skill phrase-matcher (unigrams and bigrams of
# the engine's skill vocabulary) and filler that matches nothing
HITS = ["spark", "hash", "join", "filter", "window", "stream", "vector",
        "merge", "sort", "scan", "query", "batch", "fast", "slow", "small",
        "hash join", "sort merge", "table scan", "window merge"]
FILLER = ("nous recherchons un profil pour rejoindre notre équipe data cloud "
          "vente produit client mission environnement outils projet "
          "entreprise poste").split()
HARD = ["python", "sql", "spark", "scala", "airflow", "docker", "kafka"]
SOFT = ["communication", "rigueur", "autonomie", "curiosité"]
BAD_DATES = ["hier", "il y a 3 jours", "N/A", "2024-13-45", ""]

# Lake parameters. What is sourced: the required fields (job_url, titre,
# via), the accepted date forms (%Y-%m-%d, %d/%m/%Y) and dedup by job_url
# come from the reference's cleaning step (PAPER.md, transform_job.py row);
# the description's skill words are SkillExtract.vocab. The repository holds
# no measurement of the reference's scraped lake, so every share and
# cardinality below is unsourced: each is set so that its branch of the
# load path runs on every batch (the one in-repository example, the
# five-line fixture of PipelineSpec, has one duplicate URL, one row missing
# a required field and one unparseable date, and no malformed line).
DEFAULT_LAKE = {
    "base_offers": 1000,      # offers in the base lake the set-up rebuilds
    "landings": 8,            # landings available to a run's passes
    "landing_offers": 150,    # offers per landing
    "files_per_landing": 2,
    "base_files": 4,
    "dup_share": 0.12,        # unsourced: rows repeating a URL of the batch
    "malformed_share": 0.03,  # unsourced: truncated JSON lines
    "missing_required_share": 0.03,  # unsourced
    "date_mix": (0.45, 0.30, 0.10, 0.15),  # unsourced: iso, dd/MM/yyyy, absent, bad
    "desc_words": (20, 120),  # unsourced: description length range (words)
    "hit_density": 0.15,      # unsourced: share of description words that are skills
    "companies": 300,         # unsourced
    "titles": 60,             # unsourced
    "rescrape_share": 0.25,   # unsourced: landing rows re-scraping an earlier URL
}


def _offer(rng, url, p):
    iso, dmy, absent, _bad = p["date_mix"]
    x = rng.random()
    day = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(540))
    if x < iso:
        date = day.isoformat()
    elif x < iso + dmy:
        date = day.strftime("%d/%m/%Y")
    elif x < iso + dmy + absent:
        date = None
    else:
        date = rng.choice(BAD_DATES)
    lo, hi = p["desc_words"]
    words = [rng.choice(HITS) if rng.random() < p["hit_density"]
             else rng.choice(FILLER) for _ in range(rng.randrange(lo, hi))]
    titre = (f"{TITLE_HEAD[rng.randrange(len(TITLE_HEAD))]} "
             f"{TITLE_TAIL[rng.randrange(p['titles']) % len(TITLE_TAIL)]}")
    if p["titles"] > len(TITLE_TAIL):
        titre += f" {rng.randrange(p['titles'] // len(TITLE_TAIL))}"
    o = {
        "job_url": url,
        "titre": titre,
        "via": rng.choice(VIAS),
        "publication_date": date,
        "description": " ".join(words),
        "competences": ", ".join(rng.sample(HARD, 2)),
        "contrat": rng.choice(CONTRATS),
        "companie": f"Company {rng.randrange(p['companies'])}",
        "secteur": rng.choice(SECTEURS),
        "niveau_etudes": rng.choice(ETUDES),
        "niveau_experience": rng.choice(EXPERIENCES),
        "skills": {"hard_skills": rng.sample(HARD, rng.randrange(0, 4)),
                   "soft_skills": rng.sample(SOFT, rng.randrange(0, 3))},
    }
    if rng.random() < p["missing_required_share"]:
        o[rng.choice(["job_url", "titre", "via"])] = rng.choice([None, "", "  "])
    return o


def _valid(o):
    return all(o.get(k) is not None and o[k].strip(" ") != ""
               for k in ("job_url", "titre", "via"))


def _dated(o):
    d = o.get("publication_date")
    if not d:
        return False
    for f in ("%Y-%m-%d", "%d/%m/%Y"):
        try:
            dt.datetime.strptime(d, f)
            return len(d) == 10
        except ValueError:
            pass
    return False


def _truth(rows):
    """Counts the cleaning stage must reproduce for one batch of lines:
    rows are dicts, or strings for malformed lines."""
    good = [r for r in rows if isinstance(r, dict)]
    urls = {}
    for r in good:
        if _valid(r):
            urls[r["job_url"]] = urls.get(r["job_url"], False) or _dated(r)
    return {"raw": len(rows), "malformed": len(rows) - len(good),
            "clean": len(urls), "dated": sum(urls.values())}


def _batch(rng, n, p, fresh, reuse):
    """n lines: fresh URLs, re-scraped URLs from ``reuse`` and in-batch
    duplicates, with a share broken into malformed lines."""
    rows = []
    for _ in range(n):
        x = rng.random()
        if rows and x < p["dup_share"]:
            src = rng.choice([r for r in rows if isinstance(r, dict)] or [None])
            url = src["job_url"] if src and src.get("job_url") else fresh()
        elif reuse and x < p["dup_share"] + p["rescrape_share"]:
            url = rng.choice(reuse)
        else:
            url = fresh()
        o = _offer(rng, url, p)
        if rng.random() < p["malformed_share"]:
            line = json.dumps(o, ensure_ascii=False)
            rows.append(line[: rng.randrange(5, len(line) - 5)])
        else:
            rows.append(o)
    return rows


def _write_lines(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write((r if isinstance(r, str)
                     else json.dumps(r, ensure_ascii=False)) + "\n")


def write_lake(out_dir, seed, **overrides):
    """Write ``base/`` and ``landing_<k>/`` NDJSON directories under
    ``out_dir`` and return the ground truth."""
    p = dict(DEFAULT_LAKE, **overrides)
    rng = random.Random(seed)
    counter = [0]

    def fresh():
        counter[0] += 1
        return f"https://jobs.example.org/offre/{seed}-{counter[0]}"

    def emit(name, rows, n_files):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        per = math.ceil(len(rows) / n_files)
        for i in range(n_files):
            _write_lines(os.path.join(d, f"part-{i:03d}.json"),
                         rows[i * per:(i + 1) * per])
        return _truth(rows)

    base = _batch(rng, p["base_offers"], p, fresh, [])
    truth = {"params": {k: list(v) if isinstance(v, tuple) else v
                        for k, v in p.items()},
             "base": emit("base", base, p["base_files"]), "landings": []}
    known = [r["job_url"] for r in base if isinstance(r, dict) and _valid(r)]
    for k in range(p["landings"]):
        rows = _batch(rng, p["landing_offers"], p, fresh, known)
        truth["landings"].append(
            emit(f"landing_{k}", rows, p["files_per_landing"]))
        known += [r["job_url"] for r in rows if isinstance(r, dict) and _valid(r)]
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth
