"""Seeded arXiv snapshot generator with its ground truth.

Writes a JSON array shaped like the pipeline's fixture
(src/test/resources/dataset.json) and a `truth.json` with the row counts,
validation violations and analytics totals the pipeline must produce on it.

Planted cases, each with a known answer:
  * duplicate DOIs: a later record reuses an earlier DOI; Ingest keeps the
    first, so the later record and its authors never enter the store;
  * missing DOIs: null, and one blank DOI (`missing_dois` counts both);
  * too-short titles: Clean deletes them;
  * one empty author token (`"A B, , C D"`): the empty name enters the
    authors table and is the one `check_author_name_nonempty` violation.
The input has no affiliation field: Ingest gives every author 'Unknown', so
`empty_affiliations` is 0 by construction.

Authors are drawn from a shared Zipf-weighted pool; each record has 1-3
categories. The truth is computed by `expected()`, a plain re-statement of
the pipeline's documented semantics (Ingest dedup chain, Clean, Enrich
cycles against the offline mock Scholar client, Citations, Validate).

Usage: python3 gen_arxiv.py <out_dir> <seed> <n_records>
"""
import hashlib
import json
import os
import sys

import numpy as np

CATEGORIES = ["cs.AI", "cs.CL", "cs.CV", "cs.LG", "cs.DB", "math.CO",
              "math.PR", "stat.ML", "hep-th", "hep-ph", "quant-ph",
              "astro-ph.GA", "cond-mat.str-el", "q-bio.NC", "econ.EM"]
FIRST = ["Ada", "Alan", "Barbara", "Carl", "Donald", "Edsger", "Frances",
         "Grace", "John", "Ken", "Leslie", "Margaret", "Niklaus", "Radia",
         "Shafi", "Tim", "Tony", "Whitfield", "Yann", "Zhang"]
LAST = ["Lovelace", "Turing", "Liskov", "Shannon", "Knuth", "Dijkstra",
        "Allen", "Hopper", "Backus", "Thompson", "Lamport", "Hamilton",
        "Wirth", "Perlman", "Goldwasser", "Berners", "Hoare", "Diffie",
        "LeCun", "Wei", "Codd", "Gray", "Stonebraker", "Ullman", "Aho"]
WORDS = ["sparse", "graph", "learning", "quantum", "spectral", "stochastic",
         "neural", "optimal", "bounds", "entropy", "lattice", "streaming",
         "query", "manifold", "kernel", "causal", "robust", "adaptive"]
SHORT_TITLES = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
# Enrichment cycles the benchmark runs the pipeline with (the DAG's default
# is two). The second cycle re-runs the first one's plan shapes and would
# add about a third to a run that must fit the per-run time budget. The
# harness reads the value from truth.json.
ENRICH_CYCLES = 1


def author_name(i):
    name = f"{FIRST[i % len(FIRST)]} {LAST[(i // len(FIRST)) % len(LAST)]}"
    return name if i < len(FIRST) * len(LAST) else f"{name} {i // (len(FIRST) * len(LAST))}"


def make_records(seed, n):
    rng = np.random.default_rng(seed)
    pool = max(20, n // 2)
    weights = 1.0 / np.arange(1, pool + 1) ** 1.1
    weights /= weights.sum()
    cat_w = 1.0 / np.arange(1, len(CATEGORIES) + 1)
    cat_w /= cat_w.sum()
    n_short = min(len(SHORT_TITLES), n // 100)
    short_at = set(rng.choice(np.arange(n), n_short, replace=False).tolist())
    empty_author_at = int(rng.integers(0, n)) if n >= 50 else -1
    blank_doi_at = int(rng.integers(0, n))
    records = []
    short_used = 0
    for i in range(n):
        k = int(rng.integers(1, 4))
        names = [author_name(int(a)) for a in rng.choice(pool, k, replace=False, p=weights)]
        if i == empty_author_at:
            names = names[:1] + [""] + names[1:]
        cats = rng.choice(CATEGORIES, int(rng.integers(1, 4)), replace=False, p=cat_w)
        r = rng.random()
        if i == blank_doi_at:
            doi = " "
        elif r < 0.10:
            doi = None
        elif r < 0.14 and i > 0:
            doi = f"10.5555/arxiv.{int(rng.integers(0, i))}"  # may repeat an earlier DOI
        else:
            doi = f"10.5555/arxiv.{i}"
        if i in short_at:
            title = SHORT_TITLES[short_used]
            short_used += 1
        else:
            words = " ".join(rng.choice(WORDS, 3))
            title = f"On {words} methods {i}"
        last, first = (names[0].split(" ", 1) + [""])[:2][::-1]
        records.append({
            "id": f"{2400 + i // 100000:04d}.{i % 100000:05d}",
            "submitter": names[0] or "Anonymous",
            "authors": ", ".join(names),
            "title": title,
            "comments": f"{int(rng.integers(5, 40))} pages" if rng.random() < 0.8 else None,
            "journal-ref": f"J. Synth. {int(rng.integers(1, 99))}" if rng.random() < 0.5 else None,
            "doi": doi,
            "report-no": f"REP-{i}" if rng.random() < 0.1 else None,
            "categories": " ".join(cats),
            "license": None,
            "abstract": f"We study {title.lower()}.",
            "versions": [{"version": "v1", "created": "Mon, 2 Apr 2007 19:18:42 GMT"}],
            "update_date": "2008-11-13",
            "authors_parsed": [[last, first, ""]],
        })
    return records


# ---- the offline Scholar client (MockScholarClient), restated ----------

def _tag(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()[:12]


def mock_results(query):
    """(title, doi, author names) of the two results the mock returns."""
    out = []
    for i in range(2):
        tag = _tag(f"{query}#{i}")
        title = query if i == 0 else f"Study of {query} ({tag})"
        doi = f"SR{tag}" if ord(tag[0]) % 2 == 0 else None
        out.append((title.strip(" "), doi, [f"A {tag[:3]}", f"B {tag[3:6]}"]))
    return out


# ---- the pipeline's semantics, restated --------------------------------

def _first_per_key(rows, key):
    seen, out = set(), []
    for r in rows:
        v = r[key]
        if v is None:
            out.append(r)
        elif v not in seen:
            seen.add(v)
            out.append(r)
    return out


def expected(records, cycles=ENRICH_CYCLES, per_category=2):
    rows = [dict(r, report_no=r["report-no"]) for r in records]
    for key in ("doi", "title", "report_no"):
        rows = _first_per_key(rows, key)
    pubs = {}
    authorship, pub_cat = set(), set()
    authors, cats = set(), set()
    for pid, r in enumerate(rows, start=1):
        pubs[pid] = {"title": r["title"], "doi": r["doi"], "categories": r["categories"]}
        for a in r["authors"].split(", "):
            authors.add(a)
            authorship.add((pid, a))
        for c in r["categories"].split(" "):
            cats.add(c)
            pub_cat.add((pid, c))
    log = len(pubs)  # ingest: one INSERT per publication

    # Clean: titles shorter than 2 after trimming spaces go, with their bridges
    gone = {p for p, v in pubs.items() if len(v["title"].strip(" ")) < 2}
    log += len(gone)
    pubs = {p: v for p, v in pubs.items() if p not in gone}
    authorship = {x for x in authorship if x[0] not in gone}
    pub_cat = {x for x in pub_cat if x[0] not in gone}

    # Enrich: per category the two lowest ids whose categories contain it
    before = {p: dict(v) for p, v in pubs.items()}
    for _ in range(cycles):
        selected = []
        for c in sorted(cats):
            hits = sorted(p for p, v in pubs.items()
                          if v["categories"] is not None and c in v["categories"])
            selected += hits[:per_category]
        by_title = {v["title"]: p for p, v in pubs.items()}
        for p in sorted(set(selected)):
            src = pubs[p]
            for title, doi, names in mock_results(src["title"]):
                if title in by_title:
                    tgt = by_title[title]
                    pubs[tgt]["doi"] = doi if doi is not None else pubs[tgt]["doi"]
                    pubs[tgt]["journal_ref_changed"] = True
                else:
                    tgt = max(pubs) + 1
                    pubs[tgt] = {"title": title, "doi": doi, "categories": None}
                    by_title[title] = tgt
                for a in names:
                    authors.add(a)
                    authorship.add((tgt, a))
                for c in src["categories"].split(" "):
                    pub_cat.add((tgt, c))
    log += sum(1 for p in pubs if p not in before)
    log += sum(1 for p in before if pubs[p] != before[p])

    n_pubs = len(pubs)
    dois = [v["doi"] for v in pubs.values() if v["doi"] is not None]
    doi_counts = {}
    for d in dois:
        doi_counts[d] = doi_counts.get(d, 0) + 1
    used_cats = {c for _, c in pub_cat}
    # publications, citations, authorship and publication_category are
    # checked through the analytics totals below
    truth = {
        "pipeline.enrich_cycles": cycles,
        "rows.authors": len(authors),
        "rows.categories": len(cats),
        "rows.log_table": log,
        "validate.duplicate_dois": sum(1 for c in doi_counts.values() if c > 1),
        "validate.unique_doi": sum(c - 1 for c in doi_counts.values() if c > 1),
        "validate.missing_dois": sum(1 for v in pubs.values()
                                     if v["doi"] is None or v["doi"].strip(" ") == ""),
        "validate.empty_affiliations": 0,
        "validate.check_author_name_nonempty": sum(1 for a in authors if a == ""),
    }
    truth["analytics.author_publication_counts.rows"] = len({a for _, a in authorship})
    truth["analytics.author_publication_counts.sum"] = len(authorship)
    truth["analytics.citation_counts.rows"] = n_pubs
    truth["analytics.citation_counts.sum"] = 2 * n_pubs
    truth["analytics.category_publication_counts.rows"] = len(used_cats)
    truth["analytics.category_publication_counts.sum"] = len(pub_cat)
    return truth


def write_snapshot(out_dir, seed, n):
    os.makedirs(out_dir, exist_ok=True)
    records = make_records(seed, n)
    with open(os.path.join(out_dir, "arxiv.json"), "w") as f:
        json.dump(records, f, indent=1)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(expected(records), f, indent=1, sort_keys=True)


if __name__ == "__main__":
    write_snapshot(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
