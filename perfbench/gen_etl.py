"""Seeded input generator and output checker for the `etl_jobs` workload.

`generate(out, seed, sizes)` writes the four jobs' inputs in the shapes
of the engine's FIXTURES.md and returns the totals it computed while
writing:

- a cases-time CSV (`covid_19_data.csv` layout) covering the forecast
  countries, the Europe-list countries, Mainland China and others;
- a ~110-column clinical-spectrum CSV with `nan`, empty cells and every
  categorical spelling (detected/not_detected, present/absent,
  positive/negative);
- CORD-19 papers as pretty-printed (multi-line) JSON in the declared
  schema, split over two source directories;
- 299x299 grayscale PNGs in the four class directories, plus off-size
  images and one corrupt file that the job must drop.

`check(out_dir, expected)` compares the jobs' JSON outputs with those
totals and returns a list of mismatch descriptions (empty when correct).
"""
import csv
import glob
import json
import math
import os
import struct
import zlib

import numpy as np

CLASSES = ["Normal", "COVID", "Lung_Opacity", "Viral_Pneumonia"]
FORECAST = ["Serbia", "Croatia", "Slovenia", "Montenegro"]
EUROPE = ["Italy", "Norway", "Spain", "Germany", "France", "Austria",
          "Greece", "Poland", "Sweden", "United Kingdom"]
OTHERS = ["US", "Brazil", "India", "Japan", "Canada"]
FEATURES = ["Hemoglobin", "Hematocrit", "Platelets", "Eosinophils",
            "Red blood Cells", "Lymphocytes", "Leukocytes", "Basophils", "Monocytes"]
ADMISSION = ["Patient addmited to regular ward (1=yes, 0=no)",
             "Patient addmited to semi-intensive unit (1=yes, 0=no)",
             "Patient addmited to intensive care unit (1=yes, 0=no)"]
SPARSE = ["Mycoplasma pneumoniae", "Urine - Sugar", "Prothrombin time (PT), Activity",
          "D-Dimer", "Fio2 (venous blood gas analysis)", "Urine - Nitrite", "Vitamin B12"]
CATEGORICAL = {
    "Respiratory Syncytial Virus": ("detected", "not_detected"),
    "Influenza A": ("detected", "not_detected"),
    "Influenza B": ("detected", "not_detected"),
    "Parainfluenza 1": ("detected", "not_detected"),
    "CoronavirusNL63": ("detected", "not_detected"),
    "Rhinovirus/Enterovirus": ("detected", "not_detected"),
    "Coronavirus HKU1": ("detected", "not_detected"),
    "Adenovirus": ("detected", "not_detected"),
    "Urine - Esterase": ("present", "absent"),
    "Urine - Hemoglobin": ("present", "absent"),
    "Urine - Bile pigments": ("present", "absent"),
    "Strepto A": ("positive", "negative"),
    "Influenza B, rapid test": ("positive", "negative"),
    "Influenza A, rapid test": ("positive", "negative"),
}
N_CLINICAL_COLS = 110


# ---------------------------------------------------------------- cases
def _cases(path, rng, days):
    places = ([("", c) for c in FORECAST + EUROPE + OTHERS] +
              [(p, "Mainland China") for p in ("Hubei", "Guangdong", "Henan")])
    start = np.datetime64("2020-02-01")
    per_date = {}
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["SNo", "ObservationDate", "Province/State", "Country/Region",
                    "Last Update", "Confirmed", "Deaths", "Recovered"])
        sno = 0
        level = {p: int(rng.integers(1, 50)) for p in places}
        for d in range(days):
            date = str(start + d)
            for p in places:
                level[p] += int(rng.integers(0, 40))
                conf = level[p]
                deaths = int(conf * rng.uniform(0.0, 0.08))
                rec = int(conf * rng.uniform(0.0, 0.6))
                # a few missing cells: fillna("0") in the job
                conf_s = "" if rng.random() < 0.01 else str(conf)
                deaths_s = "" if rng.random() < 0.01 else str(deaths)
                rec_s = "" if rng.random() < 0.03 else str(rec)
                sno += 1
                w.writerow([sno, date, p[0], p[1], f"{date}T12:00:00",
                            conf_s, deaths_s, rec_s])
                c, dd = per_date.get(date, (0, 0))
                per_date[date] = (c + (conf if conf_s else 0), dd + (deaths if deaths_s else 0))
    return per_date


# ------------------------------------------------------------- clinical
def _clinical(path, rng, rows):
    numeric = [f"Lab marker {i:02d}" for i in range(
        N_CLINICAL_COLS - 3 - 3 - len(FEATURES) - len(SPARSE) - len(CATEGORICAL))]
    header = (["Patient ID", "Patient age quantile", "SARS-Cov-2 exam result"] +
              ADMISSION + FEATURES + numeric + SPARSE + list(CATEGORICAL))
    by_age = {}
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        for i in range(rows):
            age = int(rng.integers(0, 20))
            result = "positive" if rng.random() < 0.1 + 0.02 * age else "negative"
            key = (age, result)
            by_age[key] = by_age.get(key, 0) + 1
            row = [f"p{i:06x}", str(age), result]
            row += [str(int(rng.random() < 0.05)) for _ in ADMISSION]
            for _ in FEATURES + numeric:
                u = rng.random()
                row.append("nan" if u < 0.4 else "" if u < 0.45
                           else f"{rng.normal(0, 1) + (0.5 if result == 'positive' else 0):.6f}")
            row += ["nan" if rng.random() < 0.98 else f"{rng.normal():.6f}" for _ in SPARSE]
            for yes, no in CATEGORICAL.values():
                u = rng.random()
                row.append("nan" if u < 0.5 else "" if u < 0.55 else yes if u < 0.65 else no)
            w.writerow(row)
    return by_age


# ------------------------------------------------------------- research
WORDS = ["virus", "infection", "protein", "cell", "patients", "good", "bad",
         "severe", "novel", "effective", "risk", "improved", "failure", "study"]


def _para(rng, n):
    return {"text": " ".join(WORDS[int(j)] for j in rng.integers(0, len(WORDS), n)) + ".",
            "cite_spans": [{"start": 0, "end": 4, "text": "[1]", "ref_id": "BIBREF0"}],
            "ref_spans": [], "eq_spans": [], "section": "Abstract"}


def _research(base, rng, papers):
    dirs = []
    with_authors = 0
    for tag in ("biorxiv", "comm"):
        d = os.path.join(base, tag, "document_parses", "pdf_json_partial")
        os.makedirs(d)
        dirs.append((d, tag))
    for i in range(papers):
        n_auth = int(rng.integers(0, 5))
        with_authors += n_auth > 0
        authors = [{
            "first": f"F{i}_{a}", "middle": ["M"] if a % 2 else [], "last": f"L{i}_{a}",
            "suffix": "",
            "affiliation": {"laboratory": "Lab", "institution": f"Inst {a}",
                            "location": {"addrLine": "1 Road", "country": "RS",
                                         "postBox": "", "postCode": "11000",
                                         "region": "", "settlement": "Belgrade"}},
            "email": f"a{a}@x.org" if a % 2 == 0 else ""} for a in range(n_auth)]
        paper = {
            "paper_id": f"{i:040x}",
            "metadata": {"title": f"Paper {i}", "authors": authors},
            "abstract": [_para(rng, int(rng.integers(8, 40)))
                         for _ in range(int(rng.integers(1, 4)))],
            "body_text": [_para(rng, int(rng.integers(20, 80)))
                          for _ in range(int(rng.integers(2, 6)))],
            "back_matter": [],
            "bib_entries": {"BIBREF0": {
                "ref_id": "b0", "title": "Ref", "authors": [
                    {"first": "A", "middle": [], "last": "B", "suffix": ""}],
                "year": 2019, "venue": "V", "volume": "1", "issn": "", "pages": "1-2",
                "other_ids": {"DOI": ["10.1/x"]}}},
            "ref_entries": {"FIGREF0": {"text": "Figure", "latex": None, "type": "figure"}},
        }
        with open(os.path.join(dirs[i % 2][0], f"{paper['paper_id']}.json"), "w") as f:
            json.dump(paper, f, indent=2)
    return [[d, t] for d, t in dirs], with_authors


# ---------------------------------------------------------- radiography
def _png(path, pixels):
    """8-bit grayscale PNG from a 2-d uint8 array (no imaging library)."""
    h, w = pixels.shape
    raw = b"".join(b"\x00" + pixels[r].tobytes() for r in range(h))

    def chunk(tag, data):
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c) & 0xFFFFFFFF)
    with open(path, "wb") as f:
        f.write(b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw, 1)) + chunk(b"IEND", b""))


def _radiography(base, rng, per_class):
    counts = {}
    yy, xx = np.mgrid[0:299, 0:299]
    for k, name in enumerate(CLASSES):
        d = os.path.join(base, name)
        os.makedirs(d)
        n = per_class + int(rng.integers(0, max(per_class // 3, 1) + 1))
        counts[k] = n
        for i in range(n):
            # class-dependent brightness and texture so the classifier has signal
            cx, cy = rng.uniform(80, 220, 2)
            img = (40 * k + 60 * np.exp(-((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * 60.0 ** 2))
                   + rng.normal(0, 8 + 4 * k, (299, 299)))
            _png(os.path.join(d, f"img_{i:04d}.png"), np.clip(img, 0, 255).astype(np.uint8))
        # off-size images the 299x299 filter must drop
        _png(os.path.join(d, "offsize_a.png"), rng.integers(0, 256, (150, 150), dtype=np.uint8))
        _png(os.path.join(d, "offsize_b.png"), rng.integers(0, 256, (299, 300), dtype=np.uint8))
    with open(os.path.join(base, CLASSES[0], "corrupt.png"), "wb") as f:
        f.write(b"not a png")
    return counts


def generate(out, seed, sizes):
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    cases = os.path.join(out, "cases_time.csv")
    clinical = os.path.join(out, "clinical.csv")
    per_date = _cases(cases, rng, sizes["cases_days"])
    by_age = _clinical(clinical, rng, sizes["clinical_rows"])
    research, with_authors = _research(os.path.join(out, "research"), rng, sizes["papers"])
    counts = _radiography(os.path.join(out, "radiography"), rng, sizes["images_per_class"])
    inputs = {"cases": cases, "clinical": clinical, "research": research,
              "radiography": os.path.join(out, "radiography")}
    expected = {"per_date": per_date, "by_age": {f"{a}|{r}": n for (a, r), n in by_age.items()},
                "papers_with_authors": with_authors, "class_counts": counts}
    return inputs, expected


# ---------------------------------------------------------------- check
OUTPUTS = {
    "cases_time": ["confirmed_cases_and_deaths_globally", "confirmed_cases_serbia",
                   "confirmed_cases_norway", "confirmed_cases_italy", "confirmed_cases_china",
                   "confirmed_cases_europe", "confirmed_cases_comparison",
                   "confirmed_cases_mortality_rates", "confirmed_cases_recovery_rates",
                   "time_series", "time_series_by_countries", "time_series_test_data",
                   "future_predictions", "future_forecasting"],
    "clinical": ["hemoglobin_values", "red_blood_cells_values", "aggregate_age_result",
                 "age_relations", "care_relations", "predictions_missing_values",
                 "predictions_value_distribution", "predictions_test_result_distribution",
                 "predictions"],
    "research": ["paper_authors", "paper_abstracts"],
    "radiography": ["percentage_of_samples", "take_samples", "colour_distribution",
                    "ml_classification", "dl_inference"],
}


def _rows(d):
    parts = glob.glob(os.path.join(d, "part-*.json"))
    rows = []
    for p in parts:
        with open(p) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return len(parts), rows


def check(out_dir, expected):
    """Mismatches per job: {job: [description, ...]}."""
    bad = {job: [] for job in OUTPUTS}
    rows = {}
    for job, names in OUTPUTS.items():
        for name in names:
            n_parts, r = _rows(os.path.join(out_dir, job, name))
            if n_parts != 1:
                bad[job].append(f"{name}: {n_parts} JSON part files")
            rows[name] = r
    got = {r["date"]: (r.get("sum(confirmed)"), r.get("sum(deaths)"))
           for r in rows["confirmed_cases_and_deaths_globally"]}
    want = {d: tuple(v) for d, v in expected["per_date"].items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:2]
        bad["cases_time"].append(f"global confirmed/deaths per date differ: {diff}")
    counts = {}
    for r in rows["age_relations"]:
        key = f"{r['age']}|{r['result']}"
        counts[key] = counts.get(key, 0) + 1
    if counts != expected["by_age"]:
        bad["clinical"].append("test-result counts per age quantile differ")
    papers = {r["paper_id"] for r in rows["paper_authors"]}
    if len(papers) != expected["papers_with_authors"]:
        bad["research"].append(f"papers with authors: {len(papers)} != "
                               f"{expected['papers_with_authors']}")
    want_counts = {int(k): v for k, v in expected["class_counts"].items()}
    total = sum(want_counts.values())
    got_counts = {r["label"]: (r["count"], r["percentage"]) for r in rows["percentage_of_samples"]}
    if set(got_counts) != set(want_counts) or any(
            got_counts[k][0] != n or not math.isclose(got_counts[k][1], n / total * 100,
                                                      rel_tol=1e-12)
            for k, n in want_counts.items()):
        bad["radiography"].append(f"per-class counts/percentages differ: {got_counts}")
    return bad
