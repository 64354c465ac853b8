"""Seeded input generators.  Every function is a pure function of its
arguments (the seed included): the same seed gives byte-identical
parquet.  Generation is plain Python + pyarrow, outside Spark, so the
program under test only ever sees the finished files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "java", "c", "go", "rust", "js", "other"]
_LANG_WEIGHTS = [30, 20, 10, 10, 5, 15, 10]
_EXT = {"python": "py", "java": "java", "c": "c", "go": "go", "rust": "rs", "js": "js", "other": "txt"}

# one planted defect per rule of fences_spark.flagship.files_ruleset;
# each rule's defect is drawn independently, so some rows break
# several rules at once (the multi-violation explode)
FILES_DEFECT_RATE = 0.02

WORDS = (
    "the the a and of to in is that it for quick brown fox jumps over lazy "
    "dog data spark table query plan stage shuffle join scan filter merge "
    "sort hash bucket salt skew probe build column row batch stream window "
    "state commit schema type string number array object valid check rule "
    "corpus token chunk pack shard sample quality span gram model train"
).split()
_BOILERPLATE = (
    "all rights reserved terms of service privacy policy cookie notice "
    "subscribe to our newsletter follow us on social media"
)


def write_parquet(rows: dict[str, list], schema: pa.Schema, path: str, n_files: int) -> None:
    """Write the columns as ``n_files`` parquet files under ``path`` so
    that Spark reads them as that many splits."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(rows, schema=schema)
    n = table.num_rows
    step = -(-n // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


# ---------------------------------------------------------------------------
# JSON documents, each drawn from a defect class
# ---------------------------------------------------------------------------

# class -> weight.  The expected per-rule verdict of each class is not
# written down here: the oracle derives it with jsonschema.
JSON_CLASSES = {
    "valid": 40,
    "bad_sku": 8,        # an item's sku breaks its pattern
    "zero_qty": 6,       # an item's qty is 0
    "dup_tags": 8,       # two deep-equal tag objects
    "extra_key": 8,      # a key no allOf branch or property evaluates
    "tree_typo": 8,      # misspelled key at the deepest tree node
    "tree_children": 6,  # children is not an array
    "multi": 6,          # bad_sku + dup_tags + tree_typo
}


def _json_doc(rng: random.Random, doc_id: int, cls: str) -> tuple[str, str]:
    bad = {"multi": ("bad_sku", "dup_tags", "tree_typo")}.get(cls, (cls,))
    items = []
    for _ in range(rng.randint(1, 4)):
        sku = "".join(rng.choice(string.ascii_uppercase) for _ in range(3)) + f"-{rng.randrange(10000):04d}"
        items.append({"sku": sku, "qty": rng.randint(1, 9)})
    if "bad_sku" in bad:
        items[rng.randrange(len(items))]["sku"] = f"x{rng.randrange(10 ** 6)}"
    if "zero_qty" in bad:
        items[rng.randrange(len(items))]["qty"] = 0
    tags = [{"k": rng.choice(WORDS), "v": i} for i in range(rng.randint(1, 5))]
    if "dup_tags" in bad:
        tags.append(dict(rng.choice(tags)))
    doc = {"id": doc_id + 1, "items": items, "tags": tags, "note": rng.choice(WORDS)}
    if "extra_key" in bad:
        doc[f"x_{rng.choice(WORDS)}"] = rng.randrange(100)

    def node(depth: int) -> dict:
        n = {"data": rng.randrange(1000)}
        if depth > 0:
            n["children"] = [node(depth - 1) for _ in range(rng.randint(1, 2))]
        return n

    tree = node(rng.randint(1, 3))
    deepest = tree
    while "children" in deepest:
        deepest = deepest["children"][-1]
    if "tree_typo" in bad:
        deepest["daat"] = deepest.pop("data")
    if "tree_children" in bad:
        deepest["children"] = rng.randrange(10)
    return json.dumps(doc), json.dumps(tree)


def json_prototype(cls: str) -> tuple[dict, dict]:
    """One fixed document of class ``cls`` (seed-independent)."""
    doc, tree = _json_doc(random.Random(f"proto:{cls}"), 0, cls)
    return json.loads(doc), json.loads(tree)


# ---------------------------------------------------------------------------
# files(file_id, repo, path, commit, lang, content, doc, tree): the
# north-rule columns plus two JSON-document columns per file
# ---------------------------------------------------------------------------

FILES_SCHEMA = pa.schema(
    [("file_id", pa.int64()), ("repo", pa.string()), ("path", pa.string()),
     ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
     ("doc", pa.string()), ("tree", pa.string())]
)


def files_rows(seed: int, n: int, first_id: int = 0) -> tuple[dict[str, list], list[str]]:
    """Files table rows ``first_id .. first_id + n - 1`` and each row's
    JSON defect class.  About 20% of rows share one hot repo; content
    length is log-uniform in 10..2000 characters; the JSON documents
    are distinct (``doc.id`` is the file id, every other field is
    drawn afresh)."""
    rng = random.Random(f"files:{seed}:{first_id}")
    text = "".join(rng.choice(string.ascii_letters + string.digits + "  \n") for _ in range(1 << 16))
    out: dict[str, list] = {k: [] for k in FILES_SCHEMA.names}
    classes = []
    for i in range(first_id, first_id + n):
        if rng.random() < 0.2:
            repo = "org0/repo0"
        else:
            repo = f"org{rng.randrange(50)}/repo{rng.randrange(200)}"
        lang = rng.choices(LANGS, _LANG_WEIGHTS)[0]
        dirs = "/".join(f"pkg{rng.randrange(13)}" for _ in range(rng.randrange(4)))
        path = f"src/{dirs}/file{i}.{_EXT[lang]}".replace("//", "/")
        commit = hashlib.sha1(f"{seed}:{i // 50}".encode()).hexdigest()
        length = int(10 * 200 ** rng.random())
        off = rng.randrange(len(text) - length)
        content: str | None = text[off : off + length]
        if rng.random() < FILES_DEFECT_RATE:
            repo = "bad " + repo
        if rng.random() < FILES_DEFECT_RATE:
            path = "" if rng.random() < 0.5 else path.replace("file", "my file")
        if rng.random() < FILES_DEFECT_RATE:
            commit = commit.upper()
        if rng.random() < FILES_DEFECT_RATE:
            lang = "cobol"
        if rng.random() < FILES_DEFECT_RATE:
            content = None if rng.random() < 0.5 else ""
        cls = rng.choices(list(JSON_CLASSES), list(JSON_CLASSES.values()))[0]
        doc, tree = _json_doc(rng, i, cls)
        classes.append(cls)
        for k, v in zip(FILES_SCHEMA.names, (i, repo, path, commit, lang, content, doc, tree)):
            out[k].append(v)
    return out, classes


# ---------------------------------------------------------------------------
# curation corpus: (doc_id, text, lang, source, n_chars)
# ---------------------------------------------------------------------------

CORPUS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int32())]
)


def corpus_rows(seed: int, n: int) -> dict[str, list]:
    """Content classes by draw: 10% exact duplicates (groups of up to
    16 share a text), 10% near duplicates (group text + one unique
    tail token), 5% boilerplate, 5% one token repeated, 1% empty,
    the rest unique 15..45-token documents."""
    rng = random.Random(f"corpus:{seed}")
    out: dict[str, list] = {k: [] for k in CORPUS_SCHEMA.names}
    group_text = ""
    for i in range(n):
        if i % 16 == 0:
            group_text = " ".join(rng.choices(WORDS, k=rng.randint(15, 45)))
        u = rng.random()
        if u < 0.10:
            text = group_text
        elif u < 0.20:
            text = f"{group_text} tail{i}"
        elif u < 0.25:
            text = f"{_BOILERPLATE} {rng.choice(WORDS)} {i}"
        elif u < 0.30:
            text = " ".join([rng.choice(WORDS)] * rng.randint(3, 40))
        elif u < 0.31:
            text = ""
        else:
            text = " ".join(rng.choices(WORDS, k=rng.randint(15, 45)))
        lang = rng.choices(["en", "de", "es", "fr"], [6, 2, 1, 1])[0]
        for k, v in zip(CORPUS_SCHEMA.names, (i, text, lang, f"src{rng.randrange(10)}", len(text))):
            out[k].append(v)
    return out
