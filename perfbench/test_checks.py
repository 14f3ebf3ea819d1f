#!/usr/bin/env python3
"""Self-test of the benchmark's checks: each check accepts a right answer
and rejects a wrong one.

    python3 perfbench/test_checks.py
"""
import copy
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import run  # noqa: E402

FACTS = {
    "nodes": 3, "ways": 2,
    "census": {"osm": 1, "node": 3, "way": 2, "nd": 5, "tag": 9},
    "key_counts": {"shop": 2, "addr:street": 2, "Name": 1, "fixme note": 1,
                   "highway": 2, "name:en": 1},
    "user_counts": {"user_0": 3, "user_1": 2},
    "streets": ["12 Camac Rd.", "Park Street", "Elgin Bazar"],
    "cities": ["Kolkata", "saltlake"],
    "postcodes": [["addr:postcode", "700019"], ["addr:postcode", "N/A"],
                  ["addr:postcode", "700 12"]],
    "node_shops": {"bakery": 1, "books": 1},
    "way_highways": {"primary": 1, "residential": 1},
    "amenities": {"cafe": 2, "school": 1},
    "ways_with_refs": 2, "total_refs": 5,
}

OBSERVED = {
    "a1_tags": [{"tag": "osm", "n": 1}, {"tag": "node", "n": 3},
                {"tag": "way", "n": 2}, {"tag": "nd", "n": 5},
                {"tag": "tag", "n": 9}],
    "a2_keys": [{"bucket": "lower", "n": 4}, {"bucket": "lower_colon", "n": 3},
                {"bucket": "other", "n": 1}, {"bucket": "problemchars", "n": 1}],
    "a4_users": [{"user": "user_0", "n": 3}, {"user": "user_1", "n": 2}],
    "a5_street_types": [{"street_type": "Rd.", "names": ["12 Camac Rd."]},
                        {"street_type": "Bazar", "names": ["Elgin Bazar"]}],
    "a7_cities": [{"city": "saltlake"}, {"city": "Kolkata"}],
    "a10_postcodes": [
        {"bucket": "addr:postcode6", "codes": ["700019"], "has_valid": True},
        {"bucket": "addr:postcode0", "codes": ["N/A"], "has_valid": False},
        {"bucket": "addr:postcode3", "codes": ["700"], "has_valid": False}],
    "q1_users": [{"distinct_users": 2}],
    "q2_types": [{"type": "node", "n": 3}, {"type": "way", "n": 2}],
    "q3_amenities": [{"n_shop": 2, "n_cafe": 2, "n_restaurant": 0,
                      "n_hospital": 0, "n_school": 1, "n_college": 0,
                      "n_university": 0}],
    "q4_top_shops": [{"shop": "bakery", "n": 1}, {"shop": "books", "n": 1}],
    "q5_top_highways": [{"highway": "primary", "n": 1},
                        {"highway": "residential", "n": 1}],
    "way_node_join": [
        {"way_id": "4", "n_refs": 2, "n_resolved": 2, "centroid_lat": 22.5,
         "centroid_lon": 88.3},
        {"way_id": "5", "n_refs": 3, "n_resolved": 3, "centroid_lat": 22.6,
         "centroid_lon": 88.4}],
}

DOCS = [
    {"id": "1", "type": "node", "address": {"street": "Camac Road"}},
    {"id": "2", "type": "node", "tags": {"shop": "bakery"}},
    {"id": "3", "type": "node"},
    {"id": "4", "type": "way", "node_refs": ["1", "2"]},
    {"id": "5", "type": "way", "node_refs": ["1", "2", "3"]},
]


def lines(docs):
    return [json.dumps(d) for d in docs]


class QueryChecks(unittest.TestCase):
    def test_right_answers_pass(self):
        self.assertEqual(checks.check_query(FACTS, OBSERVED), {})

    def assert_only_fails(self, op, observed):
        self.assertEqual(list(checks.check_query(FACTS, observed)), [op])

    def test_swapped_top10_entries_fail(self):
        o = copy.deepcopy(OBSERVED)
        o["q4_top_shops"].reverse()
        self.assert_only_fails("q4_top_shops", o)

    def test_each_changed_answer_fails(self):
        mutations = {
            "a1_tags": lambda rows: rows[3].update(n=4),
            "a2_keys": lambda rows: rows[3].update(bucket="other"),
            "a4_users": lambda rows: rows.pop(),
            "a5_street_types": lambda rows: rows[1]["names"].append("X Row"),
            "a7_cities": lambda rows: rows.append({"city": "Howrah"}),
            "a10_postcodes": lambda rows: rows[2].update(has_valid=True),
            "q1_users": lambda rows: rows[0].update(distinct_users=3),
            "q2_types": lambda rows: rows[1].update(n=1),
            "q3_amenities": lambda rows: rows[0].update(n_cafe=0),
            "q4_top_shops": lambda rows: rows[0].update(n=2),
            "q5_top_highways": lambda rows: rows.pop(),
            "way_node_join": lambda rows: rows[1].update(n_resolved=2),
        }
        self.assertEqual(set(mutations), set(checks.OBSERVED))
        for op, mutate in mutations.items():
            with self.subTest(op=op):
                o = copy.deepcopy(OBSERVED)
                mutate(o[op])
                self.assert_only_fails(op, o)

    def test_missing_output_fails(self):
        o = copy.deepcopy(OBSERVED)
        del o["q2_types"]
        self.assert_only_fails("q2_types", o)

    def test_amenity_branch_is_checked(self):
        o = copy.deepcopy(OBSERVED)
        o["q3_amenities"][0]["n_school"] = 0
        self.assert_only_fails("q3_amenities", o)


class LoadChecks(unittest.TestCase):
    def test_right_answers_pass(self):
        docs = {"load_xml": lines(DOCS), "load_pbf": lines(reversed(DOCS))}
        self.assertEqual(checks.check_load(FACTS, docs), {})

    def test_dropped_document_fails(self):
        docs = {"load_xml": lines(DOCS), "load_pbf": lines(DOCS[1:])}
        bad = checks.check_load(FACTS, docs)
        self.assertIn("load_pbf", bad)
        self.assertTrue(any("lines" in m for m in bad["load_pbf"]))

    def test_formats_that_disagree_fail(self):
        changed = copy.deepcopy(DOCS)
        changed[2]["tags"] = {"amenity": "cafe"}
        bad = checks.check_load(FACTS, {"load_xml": lines(DOCS),
                                        "load_pbf": lines(changed)})
        self.assertEqual(set(bad), {"load_xml", "load_pbf"})

    def test_uncleaned_street_fails(self):
        dirty = copy.deepcopy(DOCS)
        dirty[0]["address"]["street"] = "Camac Rd."
        bad = checks.check_load(FACTS, {"load_xml": lines(dirty)})
        self.assertEqual(list(bad), ["load_xml"])

    def test_read_docs_reads_every_part(self):
        with tempfile.TemporaryDirectory() as d:
            for i, chunk in enumerate((DOCS[:2], DOCS[2:])):
                with open(os.path.join(d, f"part-0000{i}.json"), "w") as fh:
                    fh.write("\n".join(lines(chunk)) + "\n")
            self.assertEqual(len(checks.read_docs(d)), len(DOCS))


class Summary(unittest.TestCase):
    OPS = ["load_xml", "q1_users"]

    def test_clean_run_is_correct(self):
        self.assertEqual(run.summarise(self.OPS, 3, {}, {}),
                         {"correct": True, "attempted": 6, "failed": 0})

    def test_wrong_output_is_not_correct(self):
        bad = checks.check_query(FACTS, dict(OBSERVED, q1_users=[
            {"distinct_users": 3}]))
        self.assertEqual(run.summarise(self.OPS, 3, bad, {}),
                         {"correct": False, "attempted": 6, "failed": 3})

    def test_thrown_call_is_failed_not_wrong(self):
        self.assertEqual(run.summarise(self.OPS, 3, {}, {"load_xml": ["x"]}),
                         {"correct": True, "attempted": 6, "failed": 1})


class FaceChecks(unittest.TestCase):
    SQL = {"f": "SELECT k, sum(v) AS s FROM lineitem GROUP BY k"}

    def run_check(self, rows):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            con.execute(f"COPY (SELECT * FROM (VALUES (1, 2.5), (1, 0.5), "
                        f"(2, 4.0)) t(k, v)) TO '{d}/lineitem.parquet'")
            os.makedirs(f"{d}/out/f")
            con.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(s, k)) "
                        f"TO '{d}/out/f/part-0.parquet'")
            con.close()
            return checks.check_faces(d, f"{d}/out", self.SQL, ["f"])

    def test_matching_output_passes(self):
        self.assertEqual(self.run_check("(4.0, 2), (3.0, 1)"), {})

    def test_one_changed_value_fails(self):
        self.assertIn("f", self.run_check("(4.0, 2), (3.5, 1)"))

    def test_missing_row_fails(self):
        self.assertIn("f", self.run_check("(4.0, 2)"))


if __name__ == "__main__":
    unittest.main()
