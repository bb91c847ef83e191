"""Seeded input generators for the benchmark workloads.

Every generator draws from its own ``random.Random(seed)`` and writes bytes
in a fixed order, so one seed always yields byte-identical inputs. Each
generator also returns a manifest: the exact counts the output checks in
``checks.py`` compare the engine's results against.
"""
import os
import random

# ---------------------------------------------------------------- school --

# Schools in the cold-phase CSV. Each school costs a Markdown write, an LLM
# call and two more file writes; 400 keeps a cold plus an incremental run
# near 35 s on 4 cores, so 22 runs of each workload fit the time one full
# benchmark pass is given.
N_SCHOOLS = 400
NEW_SHARE = 0.05         # share of new schools the incremental CSV adds
FAIL_SHARE = 0.02        # schools whose first LLM request gets HTTP 500
N_METRICS = 120          # numeric-or-blank cells per row (122 columns total)
N_PLACEHOLDERS = 110     # placeholders in the Markdown template

_NAME_PARTS = ["Vida", "Ek", "Björk", "Sjö", "Äng", "Tall", "Lind", "Ås",
               "Berg", "Strand", "Norr", "Söder", "Öster", "Väster", "Lunds"]
_NAME_KINDS = ["skolan", "gårdsskolan", "byskolan", "parkskolan", "skola"]


def _metric_names():
    fam = ["TotalNumberOfStudents", "StudentTeacherRatio",
           "TeacherQualificationPercentage", "ResultGrade6AverageScore",
           "ResultGrade9AverageScore", "MeritValue"]
    names = []
    i = 0
    while len(names) < N_METRICS:
        names.append(f"{fam[i % len(fam)]}{i // len(fam):02d}")
        i += 1
    return names


def _school_row(rng, code, metrics):
    name = rng.choice(_NAME_PARTS) + rng.choice(_NAME_KINDS)
    cells = [code, name]
    for _ in metrics:
        r = rng.random()
        if r < 0.15:
            cells.append("")
        elif r < 0.5:
            cells.append(str(rng.randint(0, 900)))
        else:
            cells.append(f"{rng.uniform(0, 100):.1f}")
    return ";".join(cells)


def school_inputs(seed, out_dir):
    """CSV (cold), CSV (incremental: +NEW_SHARE new schools), templates."""
    rng = random.Random(f"school-{seed}")
    metrics = _metric_names()
    header = ";".join(["SchoolCode", "SchoolName"] + metrics)
    n_new = round(N_SCHOOLS * NEW_SHARE)
    codes = rng.sample(range(10_000_000, 99_999_999), N_SCHOOLS + n_new)
    codes = [str(c) for c in codes]
    base_rows = [_school_row(rng, c, metrics) for c in codes[:N_SCHOOLS]]
    new_rows = [_school_row(rng, c, metrics) for c in codes[N_SCHOOLS:]]
    # new schools land at seeded positions, as a refreshed export would
    incr_rows = list(base_rows)
    for row in new_rows:
        incr_rows.insert(rng.randint(0, len(incr_rows)), row)

    used = rng.sample(metrics, N_PLACEHOLDERS - 2)
    lines = ["# {SchoolName}", "", "Skolkod: {SchoolCode}", ""]
    for m in used:
        lines.append(f"- {m}: {{{m}}}")
    template = "\n".join(lines) + "\n"
    prompt = ("SYSTEM: Du är en hjälpsam assistent som skriver korta "
              "skolbeskrivningar på svenska.\n"
              "USER: Beskriv skolan utifrån följande data:\n\n{school_data}\n")
    site = ("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
            "<title>Skolor</title></head>\n<body>\n<script>\n"
            "const schools = {school_list_json};\n</script>\n</body></html>\n")

    # an exact count per phase (at least one), so every seed retries alike
    fail = (rng.sample(codes[:N_SCHOOLS], round(N_SCHOOLS * FAIL_SHARE))
            + rng.sample(codes[N_SCHOOLS:], max(1, round(n_new * FAIL_SHARE))))

    os.makedirs(out_dir, exist_ok=True)
    files = {
        "schools.csv": header + "\n" + "\n".join(base_rows) + "\n",
        "schools_incr.csv": header + "\n" + "\n".join(incr_rows) + "\n",
        "template.md": template,
        "prompt.txt": prompt,
        "site.html": site,
        "fail_codes.txt": "\n".join(sorted(fail)) + "\n",
    }
    for name, text in files.items():
        with open(os.path.join(out_dir, name), "w", encoding="utf-8",
                  newline="") as f:
            f.write(text)
    return {"cold_codes": sorted(codes[:N_SCHOOLS]),
            "new_codes": sorted(codes[N_SCHOOLS:])}


# ----------------------------------------------------------------- crawl --

N_HOSTS = 20
PAGES_PER_HOST = 20      # plain content pages per host in snapshot 1
WARC_FILES = 4           # files per snapshot (the reader parallelizes by file)
BLOCKED_SHARE = 0.10     # extra pages under a robots-disallowed path
UTM_SHARE = 0.10         # utm_ variants of content pages
EXACT_DUP_SHARE = 0.05   # content pages re-served under a new url
NEAR_DUP_SHARE = 0.05    # content pages with one word changed, new url
# snapshot 2 re-crawls the snapshot-1 content pages:
UNCHANGED_SHARE = 0.60   # same url, same body
CHANGED_SHARE = 0.25     # same url, new body (the rest is not re-crawled)
NEW_SHARE_CRAWL = 0.20   # brand-new urls, as a share of snapshot-1 pages

_WORDS = ("the of and to in is that for with have be on as at by this from "
          "are was it an or not which their has its can were been more "
          "river valley harbour market bridge garden library council winter "
          "summer village station forest meadow island tower museum church "
          "school teacher student lesson history science music painting "
          "football weather railway canal castle mountain orchard bakery "
          "fisherman farmer merchant traveller festival harvest lantern "
          "journey story letter window kitchen candle morning evening "
          "quiet bright ancient modern famous local narrow wide gentle "
          "busy early late green golden silver northern southern western "
          "walks builds carries follows opens closes gathers watches keeps "
          "remembers visits crosses paints teaches reads writes sings").split()


def _para(rng, n):
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _page_body(rng, boiler=None):
    paras = [_para(rng, rng.randint(40, 70)) for _ in range(3)]
    if boiler is not None:
        paras.insert(rng.randint(0, 3), boiler)
    return "\n\n".join(paras)


def _warc_record(headers, payload):
    body = payload.encode("utf-8")
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(body)}\r\n\r\n"
    return head.encode("latin-1") + body + b"\r\n\r\n"


def _response(uri, body, date):
    return _warc_record(
        [("WARC-Type", "response"), ("WARC-Target-URI", uri),
         ("WARC-Date", date)],
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n{body}")


def _write_warcs(rng, out_dir, responses, date):
    """Shuffle the responses over WARC_FILES files; each opens with a
    warcinfo record. Returns the number of WARC records written."""
    rng.shuffle(responses)
    os.makedirs(out_dir, exist_ok=True)
    for i in range(WARC_FILES):
        chunk = responses[i::WARC_FILES]
        info = _warc_record([("WARC-Type", "warcinfo"), ("WARC-Date", date)],
                            "software: graft-perfbench\r\n")
        with open(os.path.join(out_dir, f"part-{i:02d}.warc"), "wb") as f:
            f.write(info)
            for uri, body in chunk:
                f.write(_response(uri, body, date))
    return len(responses) + WARC_FILES


def crawl_inputs(seed, out_dir):
    """Two overlapping WARC snapshots with exactly known injected shares."""
    rng = random.Random(f"crawl-{seed}")
    hosts = [f"h{i:03d}-{rng.randrange(16**6):06x}.example"
             for i in range(N_HOSTS)]
    boiler = {h: _para(rng, 45) for h in hosts}   # shared per-host paragraph
    pages = []                                    # (url, body) content pages
    for h in hosts:
        for j in range(PAGES_PER_HOST):
            pages.append((f"http://{h}/a/{j:04d}", _page_body(rng, boiler[h])))
    n = len(pages)

    def pick(pool, share):
        return rng.sample(pool, round(len(pool) * share))

    robots = [(f"http://{h}/robots.txt",
               "User-agent: *\nDisallow: /private/\n") for h in hosts]
    blocked = [(f"http://{rng.choice(hosts)}/private/{k:04d}",
                _page_body(rng)) for k in range(round(n * BLOCKED_SHARE))]
    utm = [(f"{u}?utm_source=news&utm_medium={k}", b)
           for k, (u, b) in enumerate(pick(pages, UTM_SHARE))]
    dup_src = pick(pages, EXACT_DUP_SHARE + NEAR_DUP_SHARE)
    n_exact = round(n * EXACT_DUP_SHARE)
    exact = [(f"{u}-copy", b) for u, b in dup_src[:n_exact]]
    near = []
    for u, b in dup_src[n_exact:]:
        words = b.split(" ")
        k = rng.randrange(len(words))
        words[k] = "lighthouse" if words[k] != "lighthouse" else "harbour"
        near.append((f"{u}-near", " ".join(words)))
    s1 = robots + pages + blocked + utm + exact + near
    s1_records = _write_warcs(rng, os.path.join(out_dir, "s1"), list(s1),
                              "2024-01-02T03:04:05Z")

    # re-crawl only pages without a duplicate in snapshot 1, so which copy
    # snapshot 1 admitted never decides snapshot 2's admission
    dup_urls = {u for u, _ in dup_src}
    pool = [p for p in pages if p[0] not in dup_urls]
    rng.shuffle(pool)
    n_unch = round(n * UNCHANGED_SHARE)
    n_chg = round(n * CHANGED_SHARE)
    unchanged = pool[:n_unch]
    changed = [(u, _page_body(rng, boiler[u.split("/")[2]]))
               for u, _ in pool[n_unch:n_unch + n_chg]]
    new = [(f"http://{rng.choice(hosts)}/b/{k:04d}", _page_body(rng))
           for k in range(round(n * NEW_SHARE_CRAWL))]
    # snapshot 2 does not refetch robots.txt: the persisted policy stands
    s2 = unchanged + changed + new
    s2_records = _write_warcs(rng, os.path.join(out_dir, "s2"), list(s2),
                              "2024-02-02T03:04:05Z")

    return {
        "s1": {"01_warc": s1_records, "02_pages": len(s1),
               "03_admitted": len(s1) - len(robots) - len(blocked),
               "04_url_dedup": len(s1) - len(robots) - len(blocked) - len(utm)},
        "s2": {"01_warc": s2_records, "02_pages": len(s2),
               "03_admitted": len(s2), "04_url_dedup": len(s2),
               # unchanged pages hit the persisted fingerprint index; changed
               # and new bodies are fresh random text
               "04b_admit": len(changed) + len(new)},
        "shares": {"pages": n, "robots": len(robots), "blocked": len(blocked),
                   "utm": len(utm), "exact_dup": len(exact),
                   "near_dup": len(near), "unchanged": len(unchanged),
                   "changed": len(changed), "new": len(new)},
    }


GENERATORS = {"school": school_inputs, "crawl": crawl_inputs}
