"""Output checks against computations made outside Spark: DuckDB SQL
over the same input parquet, ``jsonschema`` for JSON verdicts, and
stated properties of the curation funnel.  Every check raises
:class:`Mismatch` on the first disagreement."""

from __future__ import annotations

import json
import os
import random
from urllib.parse import unquote

import duckdb
import jsonschema
import pyarrow as pa

from perfbench.inputs import JSON_CLASSES, LANGS, json_prototype


class Mismatch(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 2")
    return con


def _parquet(path: str, hive: bool = False) -> str:
    if hive:
        return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    return f"read_parquet('{path}/*.parquet')"


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


# ---------------------------------------------------------------------------
# files table: the five typed flagship rules restated in DuckDB SQL, the
# JSON rules fixed per defect class by jsonschema
# ---------------------------------------------------------------------------

_LANG_LIST = ", ".join(f"'{x}'" for x in LANGS)
TYPED_RULES_SQL = {  # rule_id -> (column, failing-row condition)
    "repo_format": ("repo", r"repo IS NULL OR NOT regexp_full_match(repo, '[-\w.]+/[-\w.]+')"),
    "path_nonempty": ("path", r"path IS NULL OR length(path) < 1 OR NOT regexp_full_match(path, '[-\w./]+')"),
    "commit_sha": ("commit", r"commit IS NULL OR NOT regexp_full_match(commit, '[0-9a-f]{40}')"),
    "lang_enum": ("lang", f"lang IS NULL OR lang NOT IN ({_LANG_LIST})"),
    "content_present": ("content", "content IS NULL OR length(content) < 1"),
}


class JsonVerdicts:
    """Each defect class's per-rule verdict, from jsonschema's
    Draft202012Validator on a prototype document of the class."""

    def __init__(self, rules: dict[str, tuple[str, dict]]):
        self.rules = rules
        self.validators = {rid: jsonschema.Draft202012Validator(s) for rid, (_c, s) in rules.items()}
        self.of_class = {cls: self.verdicts(*json_prototype(cls)) for cls in JSON_CLASSES}
        for cls, ok in self.of_class.items():
            expect((cls == "valid") == all(ok.values()), f"class {cls} verdict {ok}")

    def verdicts(self, doc, tree) -> dict[str, bool]:
        inst = {"doc": doc, "tree": tree}
        return {rid: v.is_valid(inst[self.rules[rid][0]]) for rid, v in self.validators.items()}

    def check_sample(self, rows: list[tuple[int, str, str]], classes: dict[int, str], seed: str) -> None:
        """The generator must put every row in its class: validate a
        seeded sample of real rows."""
        for i, doc, tree in random.Random(seed).sample(rows, min(100, len(rows))):
            got = self.verdicts(json.loads(doc), json.loads(tree))
            expect(got == self.of_class[classes[i]], f"row {i} of class {classes[i]}: {got}")


def _resolve(doc, pointer: str) -> None:
    expect(pointer.startswith("#"), f"pointer {pointer!r} is not a URI fragment")
    frag = unquote(pointer[1:])
    if not frag:
        return
    expect(frag.startswith("/"), f"pointer {pointer!r} is not RFC 6901")
    node = doc
    for tok in frag[1:].split("/"):
        tok = tok.replace("~1", "/").replace("~0", "~")
        if isinstance(node, list):
            expect(tok.isdigit() and int(tok) < len(node), f"pointer {pointer!r} leaves its document")
            node = node[int(tok)]
        else:
            expect(isinstance(node, dict) and tok in node, f"pointer {pointer!r} leaves its document")
            node = node[tok]


class FilesOracle:
    """Expected violations of one files-table input, computed once."""

    def __init__(self, con, stage: str, name: str, classes: list[str], first_id: int, jv: JsonVerdicts):
        self.con, self.name, self.jv, self.stage = con, name, jv, stage
        inp = _parquet(stage)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM {inp}")
        con.register(f"{name}_cls", pa.table(
            {"file_id": range(first_id, first_id + len(classes)), "class": classes}))
        fails = [(c, rid) for c, ok in jv.of_class.items() for rid, v in ok.items() if not v]
        con.register(f"{name}_jfail", pa.table(
            {"class": [c for c, _r in fails], "rule_id": [r for _c, r in fails]}))
        cols = "file_id, repo, path, commit"
        arms = [f"SELECT {cols}, '{rid}' AS rule_id, sha256(content) AS content_sha256 FROM {name} WHERE {cond}"
                for rid, (_col, cond) in TYPED_RULES_SQL.items()]
        arms.append(f"SELECT {cols}, rule_id, sha256(content) FROM {name} "
                    f"JOIN {name}_cls USING (file_id) JOIN {name}_jfail USING (class)")
        con.execute(f"CREATE TABLE {name}_exp AS {' UNION ALL '.join(arms)}")
        self.rows = _one(con, f"SELECT count(*) FROM {name}")
        self.fails = dict(con.execute(f"SELECT rule_id, count(*) FROM {name}_exp GROUP BY 1").fetchall())
        rules = set(TYPED_RULES_SQL) | set(jv.rules)
        expect(set(self.fails) == rules, f"rules without planted defects: {rules - set(self.fails)}")
        rows = con.execute(f"SELECT file_id, doc, tree FROM {name}").fetchall()
        jv.check_sample(rows, {first_id + k: c for k, c in enumerate(classes)}, f"sample:{name}")

    def check(self, out_dir: str) -> None:
        con, name = self.con, self.name
        viol = _parquet(os.path.join(out_dir, "violations"), True)
        got = f"(SELECT file_id, repo, path, commit, rule_id, content_sha256 FROM {viol})"
        for a, b in ((got, f"{name}_exp"), (f"{name}_exp", got)):
            n = _one(con, f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})")
            expect(n == 0, f"violations multiset differs from the oracle by {n} rows")
        # the multiset matched and holds one row per failing (row, rule):
        # now every pointer must resolve in that rule's document
        column = {rid: c for rid, (c, _s) in {**TYPED_RULES_SQL, **self.jv.rules}.items()}
        for rid, col in column.items():
            rows = con.execute(
                f"SELECT i.{col}, v.pointers FROM {viol} v JOIN {name} i USING (file_id) "
                f"WHERE v.rule_id = '{rid}'").fetchall()
            for cell, pointers in rows:
                doc = json.loads(cell) if rid in self.jv.rules else cell
                for p in pointers:
                    _resolve(doc, p["pointer"])
        check_verdicts(con, out_dir, self.rows, self.fails)


def check_verdicts(con, out_dir: str, rows: int, fails: dict[str, int]) -> None:
    v = _parquet(os.path.join(out_dir, "verdicts"), True)
    bad = _one(con, f"SELECT count(*) FROM {v} WHERE n_pass + n_fail <> rows OR passed <> (n_fail = 0)")
    expect(bad == 0, f"{bad} verdict rows with n_pass + n_fail != rows")
    per_bucket = con.execute(
        f"SELECT count(DISTINCT rows), any_value(rows) FROM {v} GROUP BY bucket").fetchall()
    expect(all(d == 1 for d, _ in per_bucket), "rules disagree on a bucket's row count")
    expect(sum(r for _, r in per_bucket) == rows, "bucket rows do not sum to the input rows")
    got = dict(con.execute(f"SELECT rule_id, sum(n_fail) FROM {v} GROUP BY 1").fetchall())
    expect(got == fails, f"per-rule fail counts {got} != {fails}")


# ---------------------------------------------------------------------------
# curation pipeline
# ---------------------------------------------------------------------------

class CurateOracle:
    def __init__(self, con, stage: str):
        from fences_spark.entry_queries import _sql_curate_documents

        self.con = con
        con.execute(f"CREATE TABLE corpus AS SELECT * FROM {_parquet(stage)}")
        # the pipeline's one default rule: text is a string of length >= 1
        con.execute("CREATE VIEW documents AS SELECT * FROM corpus WHERE text IS NOT NULL AND length(text) >= 1")
        self.input_docs = _one(con, "SELECT count(*) FROM corpus")
        self.valid_docs = _one(con, "SELECT count(*) FROM documents")
        con.execute(f"CREATE TABLE curate_exp AS SELECT doc_id, keep FROM ({_sql_curate_documents()})")
        self.kept = _one(con, "SELECT count(*) FILTER (keep) FROM curate_exp")

    def check(self, out_dir: str, summary: dict, n_shards: int) -> None:
        con = self.con
        expect(summary["input_docs"] == self.input_docs, "input_docs differs from DuckDB")
        expect(summary["valid_docs"] == self.valid_docs, "valid_docs differs from DuckDB")
        expect(summary["kept_after_curation"] == self.kept, "kept_after_curation differs from DuckDB")
        cur = f"(SELECT doc_id, keep FROM {_parquet(os.path.join(out_dir, 'curation'))})"
        for a, b in ((cur, "curate_exp"), ("curate_exp", cur)):
            n = _one(con, f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})")
            expect(n == 0, f"curation verdicts differ from the DuckDB mirror by {n} rows")
        funnel = [summary[k] for k in ("input_docs", "valid_docs", "kept_after_curation",
                                       "kept_after_quality_band", "kept_after_near_dup")]
        expect(funnel == sorted(funnel, reverse=True), f"funnel increases: {funnel}")
        survivors = summary["kept_after_near_dup"]
        shards = f"(SELECT doc_id, shard FROM {_parquet(os.path.join(out_dir, 'corpus'), True)})"
        n, distinct, lo, hi = con.execute(
            f"SELECT count(*), count(DISTINCT doc_id), min(shard), max(shard) FROM {shards}").fetchone()
        expect(n == distinct == survivors, f"{n} shard rows, {distinct} distinct, {survivors} survivors")
        expect(0 <= lo and hi < n_shards, "shard id out of range")
        stray = _one(con, f"SELECT count(*) FROM {shards} WHERE doc_id NOT IN (SELECT doc_id FROM curate_exp WHERE keep)")
        expect(stray == 0, f"{stray} shard rows outside the curation keep set")
        seq_docs, seq_tokens = con.execute(
            f"SELECT sum(n_docs), sum(seq_tokens) FROM {_parquet(os.path.join(out_dir, 'sequences'))}").fetchone()
        tokens = _one(con, f"""
            SELECT sum(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')))
            FROM corpus WHERE doc_id IN (SELECT doc_id FROM {shards})""")
        expect(seq_docs == survivors, f"sequences hold {seq_docs} docs, {survivors} survivors")
        expect(seq_tokens == tokens, f"sequences hold {seq_tokens} tokens, survivors have {tokens}")
