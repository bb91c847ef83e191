"""Output checks. Each returns (attempted, failed, problems): one operation
is one school, one crawl stage, or one registry query."""
import collections
import json
import os
import re

AI_SUFFIX = "_ai_description.md"
RAW_SUFFIX = "_gpt4o_response.json"
FALLBACK_HTML = "Description not available for this school."

_RECORDS = re.compile(r"const schools = (\[.*\]);\n</script>", re.S)


def _site_records(path):
    with open(path, encoding="utf-8") as f:
        m = _RECORDS.search(f.read())
    return json.loads(m.group(1)) if m else []


def _school_ok(d, code):
    """One school's files: its Markdown page, an AI description that names
    it, and the raw response JSON."""
    ai = os.path.join(d, "ai", code + AI_SUFFIX)
    if not (os.path.isfile(os.path.join(d, "md", code + ".md"))
            and os.path.isfile(ai)
            and os.path.isfile(os.path.join(d, "json", code + RAW_SUFFIX))):
        return False
    with open(ai, encoding="utf-8") as f:
        return f"Skolkod: {code}." in f.read()


def check_school(iterations, manifest):
    """One operation per school and phase, plus two per phase: the enrich
    call (it attempts exactly the schools that have no description yet)
    and the site page (exactly one record per school, no others)."""
    attempted = failed = 0
    problems = []

    def fail(msg):
        nonlocal failed
        failed += 1
        if len(problems) < 10:
            problems.append(msg)

    cold = manifest["cold_codes"]
    both = sorted(cold + manifest["new_codes"])
    for it in iterations:
        d = it["dir"]
        for phase, codes in (("cold", cold), ("incr", both)):
            facts = it[phase]
            records = _site_records(os.path.join(d, f"school.{phase}.index.html"))
            ids = collections.Counter(r["id"] for r in records)
            html = {r["id"]: r["ai_description_html"] for r in records}
            attempted += 2
            expected_enrich = len(codes) if phase == "cold" else len(manifest["new_codes"])
            if facts["enrich_attempted"] != expected_enrich:
                fail(f"{phase}: enriched {facts['enrich_attempted']}, "
                     f"expected {expected_enrich}")
            if len(records) != len(codes) or set(ids) != set(codes):
                fail(f"{phase}: site holds {len(records)} records, "
                     f"expected one for each of {len(codes)} schools")
            for code in codes:
                attempted += 1
                # every school enriches (5xx answers are retried), so no
                # site record may fall back
                if (ids[code] != 1 or FALLBACK_HTML in html[code]
                        or not _school_ok(d, code)):
                    fail(f"{phase}: school {code} output wrong")
    return attempted, failed, problems


CHAIN = ["01_warc", "02_pages", "03_admitted", "04_url_dedup", "04b_admit",
         "05_content", "06_quality", "07_para_dedup", "08_splits"]


def check_crawl(iterations, manifest):
    attempted = failed = 0
    problems = []
    for it in iterations:
        for phase, snap in (("cold", "s1"), ("incr", "s2")):
            got = it[phase]["stages"]
            exact = manifest[snap]
            prev = None
            for stage in CHAIN + ["07b_lex_index", "09_pack"]:
                attempted += 1
                n = got.get(stage)
                ok = n is not None and n >= 0
                if ok and stage in exact:
                    ok = n == exact[stage]
                if ok and stage in CHAIN and prev is not None:
                    ok = n <= prev
                if ok and stage == "07b_lex_index":
                    ok = n <= got["07_para_dedup"]
                if ok and stage == "09_pack":
                    ok = n <= got["08_splits"]
                if stage in CHAIN and n is not None:
                    prev = n
                if not ok:
                    failed += 1
                    problems.append(f"{snap} {stage}: got {n}, "
                                    f"expected {exact.get(stage, 'non-increasing')}")
    return attempted, failed, problems


def check_registry(hashes, expected):
    attempted = failed = 0
    problems = []
    for name, want in sorted(expected.items()):
        attempted += 1
        got = hashes.get(name)
        if got != want:
            failed += 1
            problems.append(f"{name}: got {got}, expected {want}")
    return attempted, failed, problems
