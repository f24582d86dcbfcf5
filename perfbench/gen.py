"""Seeded input generator for the benchmark (numpy + pyarrow only).

Writes one dataset per call into ``OUT_DIR/data/``, together with
``OUT_DIR/expect.json``: the answers the benchmark checks the program's outputs
against.  The expectations come from the generator's own draws (web
table) or from the installed ``jsonschema`` validators (JSON documents),
never from the program under test, which this module does not import.

Datasets:

* ``web``: a typed web-page table (``url, warc_ts, html, text, lang,
  doc_id, source``) split over many parquet files, with planted defects
  (about 3.6% of rows), duplicate urls, an out-of-dimension language and
  one source whose timestamps and language mix drift.
* ``events``: JSON event documents with nested objects and arrays.
* ``metaschema``: JSON-Schema documents, checked against the draft-04
  metaschema.

Run as ``python3 gen.py DATASET SEED ROWS OUT_DIR``; the same arguments
give byte-identical files.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "cs", "zh", "ru", "ja", "pt", "it"]
LANG_P = np.array([0.40, 0.10, 0.09, 0.09, 0.04, 0.08, 0.07, 0.05, 0.04, 0.04])
N_SOURCES = 20
DRIFT_SOURCE = "src3"
DRIFT_SECONDS = 5 * 24 * 3600
BASE_EPOCH = 1709251200  # 2024-03-01T00:00:00Z
SPAN_SECONDS = 30 * 24 * 3600

# planted web-table defects: probability per row, and the rule of the
# web-page schema each one breaks
P_FTP_URL = 0.008      # url "ftp://..." fails pattern ^https?://
P_NULL_TEXT = 0.006    # NULL text: an absent required property
P_EMPTY_TEXT = 0.012   # "" fails minLength 1
P_BAD_LANG = 0.010     # "xx" is outside the enum and the language dimension
P_DUP_URL = 0.010      # url copied from another row

EVENTS_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "additionalProperties": False,
    "required": ["id", "kind", "ts", "user", "skus"],
    "properties": {
        "id": {"type": "string", "pattern": "^ev-[0-9a-f]{8}$"},
        "kind": {"enum": ["click", "view", "purchase", "search"]},
        "ts": {"type": "integer", "minimum": 1600000000,
               "maximum": 1900000000},
        "user": {
            "type": "object",
            "required": ["uid"],
            "additionalProperties": False,
            "properties": {
                "uid": {"type": "integer", "minimum": 1},
                "country": {"type": "string", "minLength": 2,
                            "maxLength": 2},
                "tags": {"type": "array", "items": {"type": "string"},
                         "maxItems": 8},
            },
        },
        "skus": {"type": "array", "maxItems": 12,
                 "items": {"type": "string",
                           "pattern": "^[A-Z]{3}-[0-9]{4}$"}},
        "ref": {"oneOf": [{"type": "integer", "minimum": 0},
                          {"type": "string", "pattern": "^r-[0-9]+$"}]},
    },
}

_SYLLABLES = ["ka", "lo", "mi", "ne", "tor", "sa", "ri", "ven", "du", "pal",
              "qua", "zet", "bri", "ho", "len", "gar", "fu", "tic", "mon",
              "ex"]


def _rng(dataset: str, seed: int) -> np.random.Generator:
    salt = sum(ord(c) * 31 ** i for i, c in enumerate(dataset)) % (2 ** 31)
    return np.random.default_rng([seed, salt])


def _vocabulary(rng, n_words=3000):
    sizes = rng.integers(1, 4, n_words)
    parts = rng.integers(0, len(_SYLLABLES), (n_words, 3))
    return ["".join(_SYLLABLES[p] for p in parts[i, :sizes[i]])
            for i in range(n_words)]


def _paragraphs(rng, n, lo, hi):
    vocab = _vocabulary(rng)
    ranks = np.arange(1, len(vocab) + 1)
    zipf = (1.0 / ranks) / (1.0 / ranks).sum()
    out = []
    for length in rng.integers(lo, hi, n):
        words = rng.choice(len(vocab), size=length, p=zipf)
        out.append(" ".join(vocab[w] for w in words))
    return out


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    data_dir = os.path.join(out_dir, "data")
    os.makedirs(data_dir)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(data_dir, f"part-{i:05d}.parquet"),
                       compression="snappy")


# -- web pages ---------------------------------------------------------------

def gen_web(seed: int, rows: int, out_dir: str, n_files: int = 32) -> dict:
    rng = _rng("web", seed)
    n = rows
    doc_id = np.arange(n, dtype=np.int64)
    source_ix = rng.integers(0, N_SOURCES, n)
    drifted = source_ix == int(DRIFT_SOURCE[3:])

    lang_ix = rng.choice(len(LANGS), size=n, p=LANG_P)
    # the drifting source moves a third of its rows to 'zh'
    lang_ix = np.where(drifted & (rng.random(n) < 1 / 3),
                       LANGS.index("zh"), lang_ix)
    bad_lang = rng.random(n) < P_BAD_LANG
    langs = np.array(LANGS + ["xx"], dtype=object)
    lang = langs[np.where(bad_lang, len(LANGS), lang_ix)]

    # urls: 20% on one hot domain, the rest over 97 domains; a planted
    # share copies another (non-copied) row's url verbatim
    hot = rng.random(n) < 0.2
    dom_ix = rng.integers(0, 97, n)
    ftp = rng.random(n) < P_FTP_URL
    own_url = [
        f"{'ftp' if f else 'https'}://"
        f"{'hot.example.com' if h else f'd{d}.example.org'}/page/{i}"
        for f, h, d, i in zip(ftp.tolist(), hot.tolist(), dom_ix.tolist(),
                              doc_id.tolist())]
    dup = rng.random(n) < P_DUP_URL
    originals = np.flatnonzero(~dup)
    url_key = doc_id.copy()
    url_key[dup] = originals[rng.integers(0, len(originals), int(dup.sum()))]
    url = [own_url[k] for k in url_key.tolist()]
    url_bad = ftp[url_key]  # a copied url carries its original's scheme

    seconds = rng.integers(0, SPAN_SECONDS, n)
    epoch = BASE_EPOCH + seconds + np.where(drifted, DRIFT_SECONDS, 0)

    pool = _paragraphs(rng, 4096, 20, 40)
    a = rng.integers(0, len(pool), n)
    b = rng.integers(0, len(pool), n)
    text_kind = rng.random(n)
    null_text = text_kind < P_NULL_TEXT
    empty_text = (text_kind >= P_NULL_TEXT) & (
        text_kind < P_NULL_TEXT + P_EMPTY_TEXT)
    text = [None if nt else ("" if et else f"{pool[x]} {pool[y]}")
            for nt, et, x, y in zip(null_text.tolist(), empty_text.tolist(),
                                    a.tolist(), b.tolist())]
    html = [f"<html><body><p>{t or ''}</p></body></html>".encode()
            for t in text]

    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(epoch * 1_000_000, pa.int64()).cast(
            pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "doc_id": pa.array(doc_id),
        "source": pa.array([f"src{s}" for s in source_ix.tolist()],
                           pa.string()),
    })
    _write_parts(table, out_dir, n_files)

    rule_counts = {"pattern": int(url_bad.sum()),
                   "required": int(null_text.sum()),
                   "minLength": int(empty_text.sum()),
                   "enum": int(bad_lang.sum())}
    defects = (url_bad.astype(int) + null_text + empty_text + bad_lang)
    _, mult = np.unique(url_key, return_counts=True)

    # Pearson chi-square of lang across sources, over every cell
    cells = np.zeros((N_SOURCES, len(langs)))
    np.add.at(cells, (source_ix, np.where(bad_lang, len(LANGS), lang_ix)), 1)
    expected = cells.sum(1, keepdims=True) * cells.sum(0, keepdims=True) / n
    chi2 = float(((cells - expected) ** 2 / expected).sum())

    # exact two-sample KS on warc_ts epochs: drifted source vs the rest
    left, right = np.sort(epoch[drifted]), np.sort(epoch[~drifted])
    grid = np.union1d(left, right)
    ks = float(np.max(np.abs(
        np.searchsorted(left, grid, side="right") / len(left)
        - np.searchsorted(right, grid, side="right") / len(right))))

    return {
        "rows": n,
        "units": n_files,
        "valid_rows": int((defects == 0).sum()),
        "violation_count": int(defects.sum()),
        "rule_counts": rule_counts,
        "uniqueness": {"total_rows": n, "distinct_keys": int(len(mult)),
                       "duplicated_keys": int((mult > 1).sum()),
                       "surplus_rows": int((mult - 1).sum())},
        "orphan_rows": int(bad_lang.sum()),
        "chi_square": {"statistic": chi2,
                       "dof": (N_SOURCES - 1) * (len(langs) - 1)},
        "ks": {"statistic": ks, "n_left": int(drifted.sum()),
               "n_right": int((~drifted).sum())},
        "profile": {"text_nulls": int(null_text.sum()),
                    "lang_distinct": len(langs),
                    "doc_id_min": 0, "doc_id_max": n - 1},
    }


# -- JSON documents ----------------------------------------------------------

def _event(rng, i):
    doc = {
        "id": "@ID@",
        "kind": ["click", "view", "purchase", "search"][int(rng.integers(4))],
        "ts": int(rng.integers(1650000000, 1800000000)),
        "user": {"uid": int(rng.integers(1, 10 ** 6)),
                 "country": ["US", "DE", "FR", "CZ", "JP"][
                     int(rng.integers(5))],
                 "tags": [f"t{t}" for t in rng.choice(
                     40, int(rng.integers(0, 5)), replace=False)]},
        "skus": [f"{'ABCDEFG'[int(rng.integers(7))] * 3}-"
                 f"{int(rng.integers(10000)):04d}"
                 for _ in range(int(rng.integers(0, 6)))],
    }
    if rng.random() < 0.5:
        doc["ref"] = (int(rng.integers(0, 10 ** 6)) if rng.random() < 0.5
                      else f"r-{int(rng.integers(10 ** 6))}")
    if rng.random() < 0.06:  # one planted defect
        kind = int(rng.integers(8))
        if kind == 0:
            doc["extra"] = 1
        elif kind == 1:
            doc["kind"] = "scroll"
        elif kind == 2:
            doc["id"] = f"ev-{i:x}"
        elif kind == 3:
            doc["user"]["tags"] = [f"t{t}" for t in range(9)]
        elif kind == 4:
            doc["skus"] = ["abc-12"]
        elif kind == 5:
            doc["ref"] = -5
        elif kind == 6:
            doc["ref"] = "q-1"
        else:
            doc["user"]["country"] = "USA"
    return doc


_PATTERNS = ["^a", "[0-9]+$", "^[a-z]{2,8}$", "x|y", "^(ab)*$"]
_TYPES = ["string", "integer", "number", "boolean", "array", "object", "null"]


def _subschema(rng, depth):
    typ = _TYPES[int(rng.integers(len(_TYPES)))]
    s = {"type": typ}
    if typ == "string":
        if rng.random() < 0.5:
            s["maxLength"] = int(rng.integers(1, 64))
        if rng.random() < 0.3:
            s["pattern"] = _PATTERNS[int(rng.integers(len(_PATTERNS)))]
        if rng.random() < 0.2:
            s["enum"] = [f"v{k}" for k in range(int(rng.integers(1, 5)))]
    elif typ in ("integer", "number"):
        s["minimum"] = int(rng.integers(-100, 100))
        if rng.random() < 0.4:
            s["maximum"] = s["minimum"] + int(rng.integers(1, 1000))
        if rng.random() < 0.3:
            s["exclusiveMinimum"] = True
    elif typ == "array" and depth > 0:
        s["items"] = _subschema(rng, depth - 1)
        if rng.random() < 0.3:
            s["minItems"] = int(rng.integers(0, 4))
    elif typ == "object" and depth > 0:
        s.update(_object_schema(rng, depth - 1))
    if rng.random() < 0.15:
        s = {"anyOf": [s, {"type": "null"}]}
    return s


def _object_schema(rng, depth):
    names = [f"p{k}" for k in rng.choice(30, int(rng.integers(1, 7)),
                                          replace=False)]
    s = {"type": "object",
         "properties": {k: _subschema(rng, depth) for k in names}}
    if rng.random() < 0.6:
        s["required"] = names[:int(rng.integers(1, len(names) + 1))]
    if rng.random() < 0.4:
        s["additionalProperties"] = bool(rng.random() < 0.5)
    return s


def _schema_doc(rng, i):
    doc = {"title": "@ID@", **_object_schema(rng, 2)}
    if rng.random() < 0.3:
        doc["definitions"] = {"d0": _subschema(rng, 1)}
    if rng.random() < 0.06:  # one planted defect
        kind = int(rng.integers(7))
        if kind == 0:
            doc["type"] = "strng"
        elif kind == 1:
            doc["required"] = []
        elif kind == 2:
            doc["required"] = ["p0", "p0"]
        elif kind == 3:
            doc["properties"]["bad"] = 5
        elif kind == 4:
            doc["maxProperties"] = -1
        elif kind == 5:
            doc["minimum"] = "10"
        else:
            doc["exclusiveMinimum"] = True  # without minimum: dependency
    return doc


def _json_dataset(name, seed, rows, out_dir, make_doc, validator, id_fmt,
                  pool_size, n_files=4):
    """Rows draw from a pool of distinct documents checked once by
    ``jsonschema``; each row then gets its own id, so no two row texts are
    equal.  The id value never changes a verdict (every id the format
    produces is valid wherever the pool document's placeholder is)."""
    rng = _rng(name, seed)
    pool = [make_doc(rng, i) for i in range(pool_size)]
    probe = id_fmt.format(0)
    verdicts = np.array([validator.is_valid(json.loads(
        json.dumps(d).replace("@ID@", probe))) for d in pool])
    texts = [json.dumps(d, separators=(",", ":")) for d in pool]
    pick = rng.integers(0, pool_size, rows)
    docs = [texts[p].replace("@ID@", id_fmt.format(i))
            for i, p in enumerate(pick.tolist())]
    table = pa.table({"row_id": pa.array(np.arange(rows, dtype=np.int64)),
                      "doc": pa.array(docs, pa.string())})
    _write_parts(table, out_dir, n_files)
    return {"rows": rows, "valid_rows": int(verdicts[pick].sum()),
            "pool_size": pool_size, "pool_valid": int(verdicts.sum())}


def gen_events(seed, rows, out_dir):
    import jsonschema

    return _json_dataset("events", seed, rows, out_dir, _event,
                         jsonschema.Draft7Validator(EVENTS_SCHEMA),
                         "ev-{:08x}", pool_size=4096)


def draft04_metaschema() -> dict:
    from jsonschema_specifications import REGISTRY

    return REGISTRY.contents("http://json-schema.org/draft-04/schema#")


def gen_metaschema(seed, rows, out_dir):
    import jsonschema

    return _json_dataset("metaschema", seed, rows, out_dir, _schema_doc,
                         jsonschema.Draft4Validator(draft04_metaschema()),
                         "s{}", pool_size=1024)


GENERATORS = {"web": gen_web, "events": gen_events,
              "metaschema": gen_metaschema}


def main(argv):
    dataset, seed, rows, out_dir = argv[1], int(argv[2]), int(argv[3]), argv[4]
    os.makedirs(out_dir)
    expect = GENERATORS[dataset](seed, rows, out_dir)
    with open(os.path.join(out_dir, "expect.json"), "w") as fh:
        json.dump(expect, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv)
