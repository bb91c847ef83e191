"""Unit tests for the benchmark's generators and output checks.

    python3 -m unittest discover -s perfbench/tests

They need no JVM: the checks are fed outputs written here the way the
engine writes them.
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Tmp(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)


class GeneratorTest(Tmp):
    def test_same_seed_gives_byte_identical_inputs(self):
        for name, make in gen.GENERATORS.items():
            a, b, c = (os.path.join(self.tmp, name, x) for x in "abc")
            make(7, a)
            make(7, b)
            make(8, c)
            self.assertEqual(tree_digest(a), tree_digest(b), name)
            self.assertNotEqual(tree_digest(a), tree_digest(c), name)

    def test_school_shapes(self):
        m = gen.school_inputs(3, self.tmp)
        with open(os.path.join(self.tmp, "schools.csv"), encoding="utf-8") as f:
            rows = f.read().splitlines()
        self.assertEqual(len(rows[0].split(";")), 122)
        self.assertEqual(len(rows) - 1, gen.N_SCHOOLS)
        with open(os.path.join(self.tmp, "schools_incr.csv"), encoding="utf-8") as f:
            incr = f.read().splitlines()
        self.assertEqual(len(incr) - 1, gen.N_SCHOOLS + len(m["new_codes"]))
        self.assertEqual(len(m["new_codes"]), round(gen.N_SCHOOLS * gen.NEW_SHARE))
        with open(os.path.join(self.tmp, "template.md"), encoding="utf-8") as f:
            self.assertEqual(f.read().count("{"), gen.N_PLACEHOLDERS)

    def test_crawl_shares_are_exact(self):
        m = gen.crawl_inputs(3, self.tmp)
        s = m["shares"]
        self.assertEqual(m["s1"]["02_pages"], s["pages"] + s["robots"] + s["blocked"]
                         + s["utm"] + s["exact_dup"] + s["near_dup"])
        self.assertEqual(m["s2"]["04b_admit"], s["changed"] + s["new"])
        n_records = 0
        for f in os.listdir(os.path.join(self.tmp, "s1")):
            with open(os.path.join(self.tmp, "s1", f), "rb") as fh:
                n_records += fh.read().count(b"WARC/1.0\r\nWARC-Type")
        self.assertEqual(n_records, m["s1"]["01_warc"])


def fake_school_outputs(d, codes, site_name, fallback=(), extra_ids=()):
    """Write one phase's outputs the way the engine lays them out."""
    for sub in ("md", "ai", "json"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
    recs = []
    for c in codes:
        with open(os.path.join(d, "md", c + ".md"), "w") as f:
            f.write(f"Skolkod: {c}\n")
        with open(os.path.join(d, "ai", c + checks.AI_SUFFIX), "w") as f:
            f.write(f"## Sammanfattning\n\nSkolkod: {c}. En lugn skola.\n")
        with open(os.path.join(d, "json", c + checks.RAW_SUFFIX), "w") as f:
            f.write("{}")
        html = checks.FALLBACK_HTML if c in fallback else "<p>ok</p>"
        recs.append({"id": c, "name": "S", "ai_description_html": html})
    recs += [{"id": c, "name": "S", "ai_description_html": "<p>ok</p>"}
             for c in extra_ids]
    with open(os.path.join(d, site_name), "w") as f:
        f.write(f"<script>\nconst schools = {json.dumps(recs)};\n</script>\n")


class SchoolCheckTest(Tmp):
    def setUp(self):
        super().setUp()
        self.m = {"cold_codes": ["11", "12", "13"], "new_codes": ["14"]}
        self.d = os.path.join(self.tmp, "iter-0")
        fake_school_outputs(self.d, self.m["cold_codes"], "school.cold.index.html")
        fake_school_outputs(self.d, self.m["cold_codes"] + self.m["new_codes"],
                            "school.incr.index.html")
        self.its = [{"dir": self.d, "cold": {"enrich_attempted": 3},
                     "incr": {"enrich_attempted": 1}}]

    def test_clean_outputs_pass(self):
        # 3 + 4 schools, plus the enrich call and the site page per phase
        self.assertEqual(checks.check_school(self.its, self.m)[:2], (11, 0))

    def test_missing_school_file_fails(self):
        os.remove(os.path.join(self.d, "ai", "12" + checks.AI_SUFFIX))
        attempted, failed, _ = checks.check_school(self.its, self.m)
        self.assertEqual((attempted, failed), (11, 2))  # both phases see it

    def test_description_of_another_school_fails(self):
        with open(os.path.join(self.d, "ai", "13" + checks.AI_SUFFIX), "w") as f:
            f.write("Skolkod: 11. fel skola\n")
        self.assertEqual(checks.check_school(self.its, self.m)[1], 2)

    def test_fallback_record_fails(self):
        fake_school_outputs(self.d, self.m["cold_codes"], "school.cold.index.html",
                            fallback={"11"})
        self.assertEqual(checks.check_school(self.its, self.m)[1], 1)

    def test_duplicated_site_record_fails(self):
        fake_school_outputs(self.d, self.m["cold_codes"], "school.cold.index.html",
                            extra_ids=["12"])
        # the page and the duplicated school
        self.assertEqual(checks.check_school(self.its, self.m)[1], 2)

    def test_extra_site_record_fails(self):
        fake_school_outputs(self.d, self.m["cold_codes"], "school.cold.index.html",
                            extra_ids=["99"])
        self.assertEqual(checks.check_school(self.its, self.m)[1], 1)

    def test_missing_site_record_fails(self):
        fake_school_outputs(self.d, self.m["cold_codes"][:2], "school.cold.index.html")
        self.assertEqual(checks.check_school(self.its, self.m)[1], 2)

    def test_wrong_enrich_count_fails(self):
        # e.g. the incremental phase re-enriching every school
        self.its[0]["incr"]["enrich_attempted"] = 4
        self.assertEqual(checks.check_school(self.its, self.m)[1], 1)


class CrawlCheckTest(unittest.TestCase):
    STAGES = {"01_warc": 104, "02_pages": 100, "03_admitted": 80,
              "04_url_dedup": 70, "04b_admit": 60, "05_content": 60,
              "06_quality": 55, "07_para_dedup": 55, "07b_lex_index": 55,
              "08_splits": 55, "09_pack": 20}

    def its(self, **s2):
        return [{"cold": {"stages": dict(self.STAGES)},
                 "incr": {"stages": dict(self.STAGES, **s2)}}]

    def manifest(self):
        exact = {k: self.STAGES[k] for k in ("01_warc", "02_pages", "03_admitted",
                                             "04_url_dedup")}
        return {"s1": exact, "s2": dict(exact, **{"04b_admit": 60})}

    def test_expected_counts_pass(self):
        self.assertEqual(checks.check_crawl(self.its(), self.manifest())[:2], (22, 0))

    def test_wrong_exact_count_fails(self):
        self.assertEqual(checks.check_crawl(self.its(**{"04b_admit": 61}),
                                            self.manifest())[1], 1)

    def test_growing_stage_fails(self):
        self.assertEqual(checks.check_crawl(self.its(**{"06_quality": 65}),
                                            self.manifest())[1], 1)


class RegistryCheckTest(unittest.TestCase):
    def test_tampered_expected_hash_fails(self):
        with open(os.path.join(os.path.dirname(checks.__file__),
                               "registry_expected.json")) as f:
            expected = json.load(f)
        self.assertEqual(checks.check_registry(expected, expected)[:2],
                         (len(expected), 0))
        name = sorted(expected)[0]
        tampered = dict(expected, **{name: [expected[name][0], "1"]})
        self.assertEqual(checks.check_registry(expected, tampered)[1], 1)
        self.assertEqual(checks.check_registry({}, expected)[1], len(expected))


if __name__ == "__main__":
    unittest.main()
