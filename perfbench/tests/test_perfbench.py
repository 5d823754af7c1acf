"""Self-tests for the benchmark's own logic: the arXiv generator and its
ground truth, the fixed bench tables, the percentile and spread math, and
the comparison verdicts.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import compare  # noqa: E402
import gen_arxiv  # noqa: E402
import stats  # noqa: E402


def record(i, title, authors="Ada Lovelace", doi=None, cats="cs.DB"):
    return {"id": f"x.{i}", "submitter": "s", "authors": authors, "title": title,
            "comments": None, "journal-ref": None, "doi": doi, "report-no": None,
            "categories": cats, "license": None, "abstract": "a", "versions": [],
            "update_date": "2008-11-13", "authors_parsed": []}


class ArxivTruthTest(unittest.TestCase):
    def test_single_record_by_hand(self):
        # one publication, one category: enrichment selects it, result 0
        # updates it in place, result 1 inserts one new publication
        t = gen_arxiv.expected([record(0, "Graphs", doi="10.1/a")], cycles=1)
        self.assertEqual(t["analytics.citation_counts.rows"], 2)  # publications
        self.assertEqual(t["analytics.citation_counts.sum"], 4)  # citations
        self.assertEqual(t["rows.categories"], 1)
        self.assertEqual(t["analytics.category_publication_counts.sum"], 2)
        # the record's author plus two result authors on each of two pubs
        self.assertEqual(t["analytics.author_publication_counts.sum"], 5)
        # ingest INSERT, enrich UPDATE of the source, enrich INSERT
        self.assertEqual(t["rows.log_table"], 3)
        inserted_doi = gen_arxiv.mock_results("Graphs")[1][1]
        self.assertEqual(t["validate.missing_dois"], 0 if inserted_doi else 1)

    def test_duplicate_doi_keeps_first_only(self):
        base = [record(0, "First", doi="10.1/a"), record(1, "Second", doi="10.1/b")]
        dup = [record(0, "First", doi="10.1/a"), record(1, "Second", doi="10.1/a")]
        tb, td = gen_arxiv.expected(base, cycles=0), gen_arxiv.expected(dup, cycles=0)
        self.assertEqual(tb["analytics.citation_counts.rows"]
                         - td["analytics.citation_counts.rows"], 1)
        self.assertEqual(td["validate.duplicate_dois"], 0)
        self.assertEqual(td["validate.unique_doi"], 0)

    def test_missing_and_blank_dois_count(self):
        recs = [record(0, "One"), record(1, "Two", doi=" "), record(2, "Three", doi="10.1/c")]
        self.assertEqual(gen_arxiv.expected(recs, cycles=0)["validate.missing_dois"], 2)

    def test_short_title_deleted_by_clean(self):
        recs = [record(0, "A"), record(1, "Long title")]
        t = gen_arxiv.expected(recs, cycles=0)
        self.assertEqual(t["analytics.citation_counts.rows"], 1)
        self.assertEqual(t["rows.log_table"], 3)  # two INSERTs, one DELETE
        # Clean leaves the authors dimension alone
        self.assertEqual(t["rows.authors"], 1)

    def test_empty_author_token(self):
        t = gen_arxiv.expected([record(0, "Paper", authors="Ada Lovelace, , Alan Turing")],
                               cycles=0)
        self.assertEqual(t["validate.check_author_name_nonempty"], 1)
        self.assertEqual(t["rows.authors"], 3)

    def test_generated_snapshot_plants_every_case(self):
        recs = gen_arxiv.make_records(5, 400)
        dois = [r["doi"] for r in recs if r["doi"] and r["doi"].strip()]
        self.assertLess(len(set(dois)), len(dois), "no duplicate DOI planted")
        self.assertTrue(any(r["doi"] is None for r in recs))
        self.assertTrue(any(r["doi"] == " " for r in recs))
        self.assertTrue(any(len(r["title"]) < 2 for r in recs))
        self.assertTrue(any(", , " in r["authors"] for r in recs))
        self.assertTrue(all(1 <= len(r["categories"].split(" ")) <= 3 for r in recs))
        t = gen_arxiv.expected(recs)
        self.assertEqual(t["validate.check_author_name_nonempty"], 1)
        self.assertEqual(t["validate.empty_affiliations"], 0)
        self.assertEqual(t["analytics.citation_counts.sum"],
                         2 * t["analytics.citation_counts.rows"])

    def test_same_seed_same_snapshot(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_arxiv.write_snapshot(a, 9, 120)
            gen_arxiv.write_snapshot(b, 9, 120)
            for f in ("arxiv.json", "truth.json"):
                self.assertEqual(Path(a, f).read_bytes(), Path(b, f).read_bytes())
            self.assertEqual(json.loads(Path(a, "truth.json").read_text())
                             ["pipeline.enrich_cycles"], gen_arxiv.ENRICH_CYCLES)


class BenchTablesTest(unittest.TestCase):
    def test_fixed_tables_are_the_sf0_01_set(self):
        import pyarrow.parquet as pq
        import run
        from oracle import TABLES
        tables = run.HERE / run.WORKLOADS["catalog_mix"]["tables"]
        for t in TABLES:
            self.assertTrue((tables / f"{t}.parquet").is_file(), t)
        rows = pq.ParquetFile(tables / "lineitem.parquet").metadata.num_rows
        self.assertTrue(59_000 <= rows <= 61_000, rows)


class StatsTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 200 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (190, 95.0, 200))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_below_100_samples_is_interpolated_p90(self):
        xs = list(range(1, 51))  # 50 samples: nothing at or above p90 has 10 beyond
        value, pct, n = stats.tail(xs)
        self.assertEqual((pct, n), (90.0, 50))
        self.assertAlmostEqual(value, 45.9)
        self.assertEqual(stats.tail([7.5]), (7.5, 100.0, 1))

    def test_quartiles_and_spread(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread(xs), 1.0)


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0, 10.02]

    def test_improved_when_nine_of_ten_pairs_win_beyond_spread(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "improved")

    def test_worse_by_pairs_or_by_bound(self):
        change = [x + 1.0 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.5), "worse")
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1), "improved")

    def test_unchanged_within_spread(self):
        change = list(reversed(self.parent))
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = list(reversed(noisy))
        self.assertEqual(compare.verdict(noisy, change, "lower", 0.1), "unresolved")

    def test_job_count_change_is_flagged(self):
        spec = {"end_to_end": [], "per_layer": [
            {"name": "scheduler.jobs", "unit": "count", "better": "lower"}]}
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for d, jobs in ((a, 40), (b, 41)):
                rec = {"workload": "w", "trace": 1, "seed": 1,
                       "per_layer": {"scheduler.jobs": jobs}, "jobs_per_pass": [jobs]}
                Path(d, "w.json").write_text(json.dumps(rec))
            _, flags = compare.compare(a, b, spec)
            self.assertTrue(any("changed 40 -> 41" in f for f in flags), flags)


if __name__ == "__main__":
    unittest.main()
