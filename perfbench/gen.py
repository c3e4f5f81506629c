"""Seeded input generators for the benchmark.

Two families of inputs, each a pure function of its arguments:

* ``tables(out, seed, sf)`` writes the ten star-schema fixture tables
  the registered queries read (``region nation customer supplier part
  orders lineitem events documents embeddings``), one parquet file
  each, with the column names, types and value domains of the
  deterministic test fixtures the query catalogue was developed on.
* ``crossref(out, seed, works)`` writes walden-shaped Crossref JSON
  records plus the side tables the nightly DAG needs (legacy work-id
  map, source registry, author registry, institutions) and a
  ``truth.json`` with the row counts a correct run must reproduce.

Every random draw comes from one ``numpy.random.Generator`` seeded by
``seed``, so the same arguments always give byte-identical content;
``content_hash`` hashes the generated rows (not the parquet bytes, whose
footers carry writer metadata).
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
DOC_WORDS = ("a the data table query join row column key value part line "
             "order customer group sort hash scan filter merge batch stream "
             "window spark agg vector fast slow big small").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY = np.int64(86_400_000_000)  # microseconds


def _ts(epoch_us):
    return pa.array(epoch_us, type=pa.timestamp("us"))


def _epoch_us(y, m, d):
    return np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64)


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _str_array(values):
    return pa.array(values, type=pa.string())


def tables(out, seed, sf):
    """Write the ten fixture tables at scale factor ``sf``; return the
    total row count."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = min(int(50_000 * sf), 2_000)
    n_users = max(int(15_000 * sf), 10)
    out_rows = {}

    def put(name, cols):
        t = pa.table(cols)
        out_rows[name] = t.num_rows
        _write(out, name, t)

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _str_array(REGIONS)})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": _str_array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _str_array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _str_array(rng.choice(SEGMENTS, n_cust))})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _str_array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pa.array(pk),
        "p_name": _str_array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": _str_array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _str_array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})
    o_start, o_end = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _str_array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(o_start + rng.integers(0, (o_end - o_start) // DAY + 1,
                                                  n_ord) * DAY),
        "o_orderpriority": _str_array(rng.choice(PRIORITIES, n_ord))})
    l_start, l_end = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _str_array(rng.choice(["R", "A", "N"], n_line)),
        "l_linestatus": _str_array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": _ts(l_start + rng.integers(0, (l_end - l_start) // DAY + 1,
                                                 n_line) * DAY)})
    e_start = _epoch_us(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * DAY, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(e_start + offs),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _str_array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(_money(rng, 0.01, 490.02, n_ev)),
        "props": _str_array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier doc: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
        else:
            words = [DOC_WORDS[w] for w in rng.integers(0, len(DOC_WORDS),
                                                         int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": _str_array(texts),
        "lang": _str_array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": _str_array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return sum(out_rows.values())


# ---------------------------------------------------------------- crossref

TITLE_WORDS = ("analysis of the effect on spark engine graph model neural "
               "network protein cell tumor climate river soil carbon dynamics "
               "quantum field theory learning deep data large scale study "
               "survey method approach towards novel robust efficient "
               "distributed query optimization index storage memory "
               "evidence from trial cohort patients outcomes risk children "
               "policy market price energy solar wind battery").split()
GIVEN = ("Ada John Maria Wei Li Kim Jose Anna Omar Yuki Ivan Sara Luca Nina "
         "Paul Ravi Chen Eva Tom Mei").split()
FAMILY = ("Smith Lee Garcia Wang Zhang Kumar Silva Muller Rossi Sato Novak "
          "Ivanova Brown Khan Nguyen Cohen Dubois Jensen Costa Okafor").split()
TYPES = ["journal-article"] * 14 + ["proceedings-article", "book-chapter",
                                    "posted-content", "letter", "monograph"]
MAPPED_BASE = 4_000_000_000

# The night's mix. The sourced figures are the reference's production
# numbers from BASELINE.md; perfbench/README.md gives each derivation
# and names the figures that are assumptions.
CORPUS_WORKS = 497_363_693       # openalex_works (Guardrails.ipynb:77)
CHURN_CEILING = 5_000_000        # works changed per 24 h (Guardrails.ipynb:41)
# a night adds at most 328,811 locations (locations_mapped 2025-07-16 to
# 07-17); at the churn ceiling at most that share of the changed works
# is new, the rest adopt an existing work id
ADOPTED_SHARE = 1 - 328_811 / CHURN_CEILING
# 618,777,313 locations_mapped rows over 497,363,693 works
RECORDS_PER_WORK = 618_777_313 / CORPUS_WORKS
ABSTRACT_SHARE = 288_704_874 / CORPUS_WORKS       # works with any abstract
AFFILIATION_SHARE = 181_725_890 / CORPUS_WORKS    # works with affiliation strings
# assumptions (no figure in the repository): preprint twins, authors per
# work, works with a PMID, people already in the author registry (tied
# to the adopted share: an existing work's authors were matched before)
TWIN_SHARE = 0.05
PMID_SHARE = 0.3
REGISTERED_SHARE = ADOPTED_SHARE
# extra records per work beyond the first: re-deposited versions, then twins
VERSION_SHARE = RECORDS_PER_WORK - 1 - TWIN_SHARE
# a few legacy pmid keys spell another work's DOI: the resolver must keep
# key types apart
PMID_COLLISIONS = 0.01


def _title(rng):
    words = [TITLE_WORDS[w] for w in rng.integers(0, len(TITLE_WORDS),
                                                  int(rng.integers(5, 11)))]
    return " ".join(words)


def corpus_size(works):
    """Works in the legacy map for a night of ``works`` works: so many
    that the night's largest possible change set (every work and every
    twin) is the reference's churn ceiling share of the corpus."""
    return int(np.ceil(works * (1 + TWIN_SHARE) * CORPUS_WORKS / CHURN_CEILING))


def churn_ceiling(corpus):
    return corpus * CHURN_CEILING // CORPUS_WORKS


def _doi(i):
    return f"10.{5000 + i % 37}/w{i:07d}"


def crossref(out, seed, works):
    """Write one night's raw Crossref records for ``works`` distinct
    works (most of them updates of works in the legacy map, the rest
    new; with versioned duplicates, preprint twins and dropped junk
    records) and the DAG's side tables. Returns the input record count."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_src = max(works // 100, 20)
    n_inst = max(works // 200, 20)
    journals = [f"Journal of {TITLE_WORDS[i % len(TITLE_WORDS)].title()} "
                f"{i}" for i in range(n_src)]
    insts = [f"University {i} of {FAMILY[i % len(FAMILY)]}" for i in range(n_inst)]
    n_people = max(works // 2, 50)
    people = [(GIVEN[int(rng.integers(0, len(GIVEN)))],
               f"{FAMILY[int(rng.integers(0, len(FAMILY)))]}{int(p) % 97}",
               f"0000-000{p % 10}-{p // 10000 % 10000:04d}-{p % 10000:04d}"
               if rng.random() < 0.3 else None,
               insts[int(rng.integers(0, n_inst))])
              for p in range(n_people)]
    corpus = corpus_size(works)
    # tonight's adopted works, drawn from the legacy corpus
    adopted = iter(rng.choice(corpus, works, replace=False).tolist())
    records, id_map, truth_ids = [], [], []
    authors_total = works_with_authors = 0

    def record(doi, title, authors, wtype, year, updated, journal, abstract,
               affiliated):
        return {
            "doi": doi, "title": [title],
            "author": [{"given": people[a][0], "family": people[a][1],
                        "orcid": (f"https://orcid.org/{people[a][2]}"
                                  if people[a][2] else None),
                        "affiliation": ([{"name": people[a][3]}] if affiliated
                                        else []),
                        "sequence": "first" if i == 0 else "additional"}
                       for i, a in enumerate(authors)],
            "issued": {"date_parts": [[year, 1 + (len(title) % 12)]]},
            "type": wtype,
            "license": ([{"url": "https://creativecommons.org/licenses/by/4.0",
                          "content_version": "vor"}]
                        if len(title) % 2 else []),
            "container_title": [journal], "publisher": f"Publisher {len(journal) % 7}",
            "abstract": abstract,
            "updated": f"2024-{1 + updated // 28:02d}-{1 + updated % 28:02d} 10:00:00"}

    minted_keys = set()
    for w in range(works):
        mapped = rng.random() < ADOPTED_SHARE
        c = next(adopted)
        doi = _doi(c) if mapped else f"10.{5000 + w % 37}/n{w:07d}"
        title = _title(rng)
        n_auth = int(rng.integers(0, 7)) if rng.random() < 0.95 else 0
        authors = [int(a) for a in rng.integers(0, n_people, n_auth)]
        affiliated = rng.random() < AFFILIATION_SHARE
        wtype = TYPES[int(rng.integers(0, len(TYPES)))]
        year = int(rng.integers(2000, 2025))
        journal = journals[int(rng.integers(0, n_src))]
        abstract = (" ".join(TITLE_WORDS[x] for x in rng.integers(
            0, len(TITLE_WORDS), 40)) if rng.random() < ABSTRACT_SHARE else None)
        versions = 2 if rng.random() < VERSION_SHARE else 1
        for v in range(versions):
            records.append(record(doi, title, authors, wtype, year,
                                  v * 30 + int(rng.integers(0, 30)), journal,
                                  abstract if v == versions - 1 else None,
                                  affiliated))
        ta = (f"{title}|{people[authors[0]][1].lower()}"
              if authors and len(title) >= 20 else None)
        if mapped:
            wid = MAPPED_BASE + 7 * c
            if ta and len(ta) > 20:
                id_map.append(("title_author", ta, wid))
            if rng.random() < PMID_COLLISIONS:
                other = MAPPED_BASE + 7 * ((c - 1) % corpus)
                id_map.append(("pmid", doi, other))
            truth = ("id", wid)
        else:
            truth = ("mint", "doi:" + doi)
        truth_ids.append(truth)
        if authors:
            works_with_authors += 1
            authors_total += len(authors)
        if rng.random() < TWIN_SHARE:
            # preprint twin: new DOI, same title and authors; adopted
            # through the title_author key when the work is mapped
            pdoi = f"10.48550/p{w:07d}"
            records.append(record(pdoi, title, authors, "posted-content",
                                  year, int(rng.integers(0, 28)), journal, None,
                                  affiliated))
            if not (mapped and ta and len(ta) > 20):
                minted_keys.add("doi:" + pdoi)
                if authors:
                    works_with_authors += 1
                    authors_total += len(authors)
    kept = len(records)
    # junk the parser drops: component/grant types and too-short titles
    for j in range(max(works // 50, 2)):
        junk = record(f"10.9999/j{j:06d}", "Tiny" if j % 2 else
                      "A component record of a larger work", [], "component"
                      if j % 2 == 0 else "journal-article", 2020, 1,
                      journals[0], None, False)
        records.append(junk)
    order = rng.permutation(len(records))
    records = [records[i] for i in order]
    raw_path = os.path.join(out, "crossref.jsonl")
    with open(raw_path, "w") as f:
        for r in records:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")
    mapped_ids = {t[1] for t in truth_ids if t[0] == "id"}
    mint_keys = {t[1] for t in truth_ids if t[0] == "mint"} | minted_keys
    # the legacy map: a DOI for every corpus work, a PMID for some
    ids = np.arange(corpus, dtype=np.int64)
    pmids = ids[rng.random(corpus) < PMID_SHARE]
    _write(out, "id_map", pa.table({
        "key_type": _str_array(["doi"] * corpus + ["pmid"] * len(pmids) +
                               [m[0] for m in id_map]),
        "key": _str_array([_doi(i) for i in range(corpus)] +
                          [str(30_000_000 + 3 * int(i)) for i in pmids] +
                          [m[1] for m in id_map]),
        "work_id": pa.array(np.concatenate([
            MAPPED_BASE + 7 * ids, MAPPED_BASE + 7 * pmids,
            np.array([m[2] for m in id_map], dtype=np.int64)]))}))
    _write(out, "sources", pa.table({
        "id": pa.array(np.arange(n_src, dtype=np.int64) + 100),
        "display_name": _str_array(journals),
        "issn": _str_array([f"{1000 + i:04d}-{i % 10000:04d}" for i in range(n_src)]),
        "type": _str_array(["journal" if i % 9 else "repository" for i in range(n_src)]),
        "publisher_id": pa.array([i % 7 + 1 for i in range(n_src)], pa.int64()),
        "institution_id": pa.array([i % n_inst for i in range(n_src)], pa.int64())}))
    seen = {}
    for p, (g, fam, orcid, inst) in enumerate(people):
        if rng.random() < REGISTERED_SHARE:
            seen[p] = (f"{fam.lower()};{g[0].lower()}", orcid, inst)
    _write(out, "author_registry", pa.table({
        "author_id": pa.array([5_000_000_000 + p for p in seen], pa.int64()),
        "block_key": _str_array([v[0] for v in seen.values()]),
        "orcid": _str_array([v[1] for v in seen.values()]),
        "institution": _str_array([v[2] for v in seen.values()])}))
    _write(out, "institutions", pa.table({
        "institution_id": _str_array(insts),
        "numeric_id": pa.array(np.arange(n_inst, dtype=np.int64)),
        "country_code": _str_array([["US", "DE", "BR", "JP", "FR"][i % 5]
                                    for i in range(n_inst)])}))
    truth = {"records": len(records), "parsed": kept,
             "works": len(mapped_ids) + len(mint_keys),
             "adopted_works": len(mapped_ids),
             "works_with_authors": works_with_authors,
             "authorships": authors_total, "sources": n_src,
             "corpus": corpus, "churn_ceiling": churn_ceiling(corpus),
             "raw_bytes": os.path.getsize(raw_path)}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return len(records)


def content_hash(directory):
    """Hash of the generated rows of every file in ``directory``
    (parquet read back as rows, other files as bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        h.update(name.encode())
        if name.endswith(".parquet"):
            t = pq.read_table(path)
            h.update(str(t.schema).encode())
            for col in t.columns:
                h.update(repr(col.to_pylist()).encode())
        else:
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
