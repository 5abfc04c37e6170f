"""The benchmark workloads: what one call does and how its output is checked.

Each workload reads its generated parquet (``register``), runs one call
through the package's public API (``call``), and verifies that call's
output against an independent recomputation (``check``): DuckDB over the
same parquet for the engine workloads, exact Python recomputation for the
near-duplicate operators. A call and its check share nothing but the input
files and the call's returned outputs.

Every call opens spans on the tracer around its calls into the package's
modules; the span names are the layer names the per-layer metrics use.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from dq_suite_amsterdam_spark import (
    DataQualityRulesDict,
    DatasetDict,
    Rule,
    RulesDict,
    TeamDict,
    ValidationEngine,
    ValidationSettings,
    compile_suite,
)
from dq_suite_amsterdam_spark.metadata import MERGE_KEYS
from dq_suite_amsterdam_spark.operators.dedup import drop_near_duplicates, minhash_lsh_candidates
from dq_suite_amsterdam_spark.operators.similarity import embedding_near_duplicates
from dq_suite_amsterdam_spark.profiling import generate_rules_from_profile, profile_table
from dq_suite_amsterdam_spark.sourcecode import forty_rule_suite, with_derived_columns
from dq_suite_amsterdam_spark.writers import write_run_outputs


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in Path(path).glob("*.parquet"))


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _in_list(values) -> str:
    return "(" + ", ".join(_lit(v) for v in values) + ")"


def _between_sql(x: str, p: dict) -> str:
    ok = []
    if p.get("min_value") is not None:
        ok.append(f"{x} {'>' if p.get('strict_min') else '>='} {p['min_value']}")
    if p.get("max_value") is not None:
        ok.append(f"{x} {'<' if p.get('strict_max') else '<='} {p['max_value']}")
    return f"NOT ({' AND '.join(ok)})"


# derived columns of sourcecode.with_derived_columns, as DuckDB expressions
_DERIVED = {
    "n_content_chars": "length(content)",
    "n_path_chars": "length(path)",
    "content_sha2": "sha256(content)",
}


def _x(column: str) -> str:
    return _DERIVED.get(column, f'"{column}"')


def violation_sql(rule: Rule, refs: dict[str, str]) -> str | None:
    """The violation predicate of a row-level rule as DuckDB SQL, written
    from the rule's own parameters; None for rules without one."""
    p, name = rule.parameters, rule.rule_name
    c = _x(p["column"]) if "column" in p else None
    nn = f"{c} IS NOT NULL" if c else ""
    pred = {
        "ExpectColumnValuesToNotBeNull": lambda: f"{c} IS NULL",
        "ExpectColumnValuesToMatchRegex": lambda: f"{nn} AND NOT regexp_matches({c}, {_lit(p['regex'])})",
        "ExpectColumnValuesToNotMatchRegex": lambda: f"{nn} AND regexp_matches({c}, {_lit(p['regex'])})",
        "ExpectColumnValuesToMatchLikePattern": lambda: f"{nn} AND NOT ({c} LIKE {_lit(p['like_pattern'])})",
        "ExpectColumnValuesToBeInSet": lambda: f"{nn} AND {c} NOT IN {_in_list(p['value_set'])}",
        "ExpectColumnValuesToNotBeInSet": lambda: f"{nn} AND {c} IN {_in_list(p['value_set'])}",
        "ExpectColumnValuesToBeBetween": lambda: f"{nn} AND {_between_sql(c, p)}",
        "ExpectColumnValueLengthsToBeBetween": lambda: f"{nn} AND {_between_sql(f'length({c})', p)}",
        "ExpectColumnValueLengthsToEqual": lambda: f"{nn} AND length({c}) != {int(p['value'])}",
        "ExpectColumnValuesSha256ToEqualReference": lambda: (
            f"{nn} AND sha256({c}) != lower({_x(p['hash_column'])})"),
        "ExpectColumnPairValuesToBeEqual": lambda: (
            f"{_x(p['column_A'])} IS DISTINCT FROM {_x(p['column_B'])}"),
        "ExpectColumnPairValuesAToBeGreaterThanB": lambda: (
            f"{_x(p['column_A'])} IS NOT NULL AND {_x(p['column_B'])} IS NOT NULL "
            f"AND NOT ({_x(p['column_A'])} {'>=' if p.get('or_equal') else '>'} {_x(p['column_B'])})"),
        "ExpectColumnValuesToBeInReferenceTable": lambda: (
            f"{nn} AND {c} NOT IN (SELECT \"{p.get('reference_column', p['column'])}\" "
            f"FROM {_pq(refs[p['reference_table']])})"),
    }.get(name)
    return pred() if pred else None


def oracle_counts(con, table: str, rule: Rule, refs: dict[str, str]) -> tuple[int, int] | None:
    """(element_count, unexpected_count) of a row-level rule, recomputed in
    DuckDB; None for table-level rules."""
    p = rule.parameters
    where = violation_sql(rule, refs)
    if where is not None:
        # GX row_condition `col("x") == "v"` as SQL; the rule is scoped to it
        cond = p.get("row_condition") or "TRUE"
        cond = re.sub(r"""col\((['"])(.*?)\1\)""", r'"\2"', cond)
        cond = re.sub(r'==\s*"([^"]*)"', r"= '\1'", cond)
        n, u = con.execute(
            f"SELECT count(*) FILTER ({cond}), count(*) FILTER (({cond}) AND ({where})) FROM {table}"
        ).fetchone()
        return n, u
    if rule.rule_name == "ExpectCompoundColumnsToBeUnique":
        keys = ", ".join(f'"{k}"' for k in p["column_list"])
        n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        u = con.execute(
            f"SELECT coalesce(sum(c), 0) FROM (SELECT count(*) c FROM {table} GROUP BY {keys} HAVING c > 1)"
        ).fetchone()[0]
        return n, int(u)
    return None


class Suite40:
    """The 40-rule suite over a source-code table, row mode, noop sink."""

    def __init__(self, spark, paths: dict[str, str], work: Path) -> None:
        self.spark, self.paths = spark, paths
        self.doc = forty_rule_suite()
        self.table_id = self.doc.table_id("sourcecode")
        self.settings = ValidationSettings(table_name="sourcecode")
        self.violation_limit = self.settings.violation_limit
        self.counts: dict[str, float] = {}
        self._expected = None
        self._null_gap: dict[int, tuple[int, int]] = {}

    def register(self) -> None:
        self.df = with_derived_columns(self.spark.read.parquet(self.paths["sourcecode"]))
        self.refs = {"lang_lookup": self.spark.read.parquet(self.paths["lang_lookup"])}
        self.rows = parquet_rows(self.paths["sourcecode"])

    def call(self, tr):
        with tr.span("compiler.compile"):
            compile_suite(self.doc.table("sourcecode").rules, self.df, self.table_id)
        engine = ValidationEngine(self.spark, self.doc, self.settings, ref_tables=self.refs)
        with tr.span("engine.run"):
            res = engine.run(self.df)
        with tr.span("engine.outputs"):
            res.validatie.write.format("noop").mode("overwrite").save()
            res.afwijking.write.format("noop").mode("overwrite").save()
        return res

    def expected(self) -> dict[int, tuple[int, int] | None]:
        if self._expected is None:
            con = duckdb.connect()
            table = _pq(self.paths["sourcecode"])
            refs = {"lang_lookup": self.paths["lang_lookup"]}
            rules = self.doc.table("sourcecode").rules
            self._expected = {i: oracle_counts(con, table, r, refs) for i, r in enumerate(rules)}
            self.total = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            con.close()
        return self._expected

    def check(self, res) -> list[str]:
        expected = self.expected()
        errors = []
        by_rule = {id(r.compiled.rule): r for r in res.rule_results}
        afw = dict(res.afwijking.groupBy("regelId").agg(F.count(F.lit(1))).collect())
        self.counts = {"engine.afwijking_null_key_rows_missing": 0}
        for i, rule in enumerate(self.doc.table("sourcecode").rules):
            got = by_rule.get(id(rule))
            if got is None:
                errors.append(f"rule {i} {rule.rule_name}: no result")
                continue
            n_afw = afw.get(got.regel_id, 0)
            exp = expected[i]
            if exp is None:
                if rule.rule_name.startswith("ExpectTableRowCount"):
                    if got.observed_value != self.total:
                        errors.append(f"rule {i}: row count {got.observed_value} != {self.total}")
                elif got.element_count not in (None, self.total):
                    errors.append(f"rule {i}: element_count {got.element_count} != {self.total}")
                if n_afw != (0 if got.success else 1):
                    errors.append(f"rule {i} {rule.rule_name}: {n_afw} afwijking rows")
                continue
            if (got.element_count, got.unexpected_count) != exp:
                errors.append(
                    f"rule {i} {rule.rule_name} {rule.parameters}: "
                    f"(reference, unexpected)=({got.element_count}, {got.unexpected_count}) != {exp}"
                )
            want = min(exp[1], self.violation_limit)
            if n_afw != want and (n_afw, want) != self.null_key_gap(i, rule):
                errors.append(f"rule {i} {rule.rule_name}: {n_afw} afwijking rows != {want}")
            elif n_afw != want:
                self.counts["engine.afwijking_null_key_rows_missing"] += want - n_afw
        return errors

    def null_key_gap(self, i: int, rule: Rule):
        """Known engine defect, counted rather than failed: the violation
        rows of a compound-uniqueness rule come from an equi-join back to
        the duplicate keys, which drops duplicate groups whose key holds a
        NULL, while the rule's unexpected count includes them. Returns the
        (afwijking rows, expected rows) pair that this defect alone gives."""
        if rule.rule_name != "ExpectCompoundColumnsToBeUnique":
            return None
        if i not in self._null_gap:
            keys = rule.parameters["column_list"]
            k = ", ".join(f'"{c}"' for c in keys)
            any_null = " OR ".join(f'"{c}" IS NULL' for c in keys)
            con = duckdb.connect()
            n_null = con.execute(
                f"SELECT coalesce(sum(c), 0) FROM (SELECT count(*) c FROM {_pq(self.paths['sourcecode'])} "
                f"WHERE {any_null} GROUP BY {k} HAVING c > 1)"
            ).fetchone()[0]
            con.close()
            want = min(self._expected[i][1], self.violation_limit)
            self._null_gap[i] = (want - int(n_null), want)
        return self._null_gap[i]

    def cleanup(self, res) -> None:
        res.cleanup()


def keys_suite() -> DataQualityRulesDict:
    r = Rule
    rules = [
        r("ExpectCompoundColumnsToBeUnique", {"column_list": ["order_id", "line_no"]}, severity="error"),
        r("ExpectColumnValuesToBeInReferenceTable",
          {"column": "supplier_id", "reference_table": "suppliers", "reference_column": "supplier_id"}),
        r("ExpectColumnValuesToBeInReferenceTable",
          {"column": "product_id", "reference_table": "products", "reference_column": "product_id"}),
        r("ExpectColumnValuesToBeInReferenceTable",
          {"column": "store_id", "reference_table": "stores", "reference_column": "store_id"}),
        r("ExpectColumnValuesToBeBetween", {"column": "qty", "min_value": 1, "max_value": 50}),
        r("ExpectColumnValuesToBeInSet",
          {"column": "status", "value_set": ["open", "paid", "shipped", "returned"]}),
    ]
    return DataQualityRulesDict(
        dataset=DatasetDict(name="orders", layer="brons"),
        tables=[RulesDict(unique_identifier=["order_id", "line_no"], table_name="orders", rules=rules)],
        team=TeamDict(teamid="perf", teamnaam="Perf"),
    )


class KeysWrite:
    """Profile, synthesise rules, then validate a key-heavy suite in grouped
    mode and write validatie/afwijking/metadata to parquet (appending)."""

    DIMS = ("suppliers", "products", "stores")

    def __init__(self, spark, paths: dict[str, str], work: Path) -> None:
        self.spark, self.paths = spark, paths
        self.out_dir = work / "keys_write_out"
        self.doc = keys_suite()
        self.table_id = self.doc.table_id("orders")
        self.settings = ValidationSettings(
            table_name="orders", violation_mode="grouped", write_results=True,
            output_path=str(self.out_dir),
        )
        self.counts: dict[str, float] = {}
        self.calls = 0
        self._expected = None

    def register(self) -> None:
        self.df = self.spark.read.parquet(self.paths["orders"])
        self.refs = {d: self.spark.read.parquet(self.paths[d]) for d in self.DIMS}
        self.rows = parquet_rows(self.paths["orders"])

    def call(self, tr):
        with tr.span("profiling.profile"):
            profile = profile_table(self.df, "orders")
        with tr.span("profiling.synth"):
            generated = generate_rules_from_profile(profile, "orders", "orders")
        with tr.span("compiler.compile"):
            compile_suite(self.doc.table("orders").rules, self.df, self.table_id)
        engine = ValidationEngine(self.spark, self.doc, self.settings, ref_tables=self.refs)
        with tr.span("engine.run"):
            res = engine.run(self.df)
        before = _parquet_files(self.out_dir)
        with tr.span("writers.write"):
            write_run_outputs(self.spark, self.doc, res, self.settings)
        # part files carry a fresh unique name, so new names = files written
        written = {f: n for f, n in _parquet_files(self.out_dir).items() if f not in before}
        self.calls += 1
        self.counts = {
            "profiling.rules_generated": len(generated.table("orders").rules),
            "writers.files_written": len(written),
            "writers.bytes_written": sum(written.values()),
        }
        return profile, res

    def expected(self):
        if self._expected is None:
            con = duckdb.connect()
            t = _pq(self.paths["orders"])
            refs = {d: self.paths[d] for d in self.DIMS}
            exp = {}
            for i, rule in enumerate(self.doc.table("orders").rules):
                n, u = oracle_counts(con, t, rule, refs)
                p = rule.parameters
                if "column_list" in p:
                    groups = con.execute(
                        f"SELECT count(*) FROM (SELECT 1 FROM {t} "
                        f"GROUP BY {', '.join(p['column_list'])} HAVING count(*) > 1)"
                    ).fetchone()[0]
                else:  # grouped mode: one afwijking row per deviating value
                    groups = con.execute(
                        f'SELECT count(DISTINCT "{p["column"]}") FROM {t} '
                        f"WHERE {violation_sql(rule, refs)}"
                    ).fetchone()[0]
                exp[i] = (n, u, groups)
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {t}").fetchall()]
            stats = con.execute(
                "SELECT count(*), "
                + ", ".join(f'count(*) FILTER ("{c}" IS NULL), count(DISTINCT "{c}")' for c in cols)
                + f" FROM {t}"
            ).fetchone()
            profile = {"n": stats[0]}
            for j, c in enumerate(cols):
                profile[c] = (stats[1 + 2 * j], stats[2 + 2 * j])
            self._expected = (exp, profile)
            con.close()
        return self._expected

    def check(self, out) -> list[str]:
        profile, res = out
        exp, prof = self.expected()
        errors = []
        if profile.n != prof["n"]:
            errors.append(f"profile n {profile.n} != {prof['n']}")
        for cp in profile.columns:
            if (cp.n_missing, cp.n_distinct) != prof[cp.column]:
                errors.append(f"profile {cp.column} (missing, distinct) "
                              f"{(cp.n_missing, cp.n_distinct)} != {prof[cp.column]}")
        rid = {id(r.compiled.rule): r.regel_id for r in res.rule_results}
        con = duckdb.connect()
        try:
            v = _pq(str(self.out_dir / "validatie"))
            a = f"read_parquet('{self.out_dir / 'afwijking'}/**/*.parquet')"
            n_val = con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
            if n_val != self.calls * len(exp):
                errors.append(f"validatie holds {n_val} rows after {self.calls} calls")
            got_v = dict(
                (r[0], (r[1], r[2])) for r in con.execute(
                    f"SELECT regelId, aantalValideRecords, aantalReferentieRecords FROM {v} "
                    f"WHERE dqDatum = (SELECT max(dqDatum) FROM {v})"
                ).fetchall()
            )
            got_a = dict(con.execute(
                f"SELECT regelId, count(*) FROM {a} WHERE dqDatum = (SELECT max(dqDatum) FROM {a}) "
                "GROUP BY regelId"
            ).fetchall())
            for i, rule in enumerate(self.doc.table("orders").rules):
                n, u, groups = exp[i]
                r = rid.get(id(rule))
                if got_v.get(r) != (n - u, n):
                    errors.append(f"validatie {rule.rule_name} {rule.parameters.get('column')}: "
                                  f"{got_v.get(r)} != {(n - u, n)}")
                if got_a.get(r, 0) != groups:
                    errors.append(f"afwijking {rule.rule_name} {rule.parameters.get('column')}: "
                                  f"{got_a.get(r, 0)} groups != {groups}")
            for name, key in MERGE_KEYS.items():
                t = _pq(str(self.out_dir / name))
                n, d = con.execute(f'SELECT count(*), count(DISTINCT "{key}") FROM {t}').fetchone()
                if n != d or n == 0:
                    errors.append(f"metadata {name}: {n} rows for {d} keys")
        finally:
            con.close()
        return errors

    def cleanup(self, out) -> None:
        out[1].cleanup()


def _parquet_files(root: Path) -> dict[str, int]:
    return {str(f): f.stat().st_size for f in root.rglob("*.parquet")} if root.exists() else {}


# corpus_neardup thresholds
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.95
SHINGLE_K = 8


def _shingles(text: str) -> set[str]:
    t = re.sub(r"\s+", " ", text.lower()).strip()
    return {t[i:i + SHINGLE_K] for i in range(max(len(t) - SHINGLE_K + 1, 1))}


class CorpusNeardup:
    """MinHash-LSH candidates -> near-duplicate removal over documents, and
    SRP-blocked exact-cosine near-duplicate pairs over vectors."""

    def __init__(self, spark, paths: dict[str, str], work: Path) -> None:
        self.spark, self.paths = spark, paths
        self.counts: dict[str, float] = {}
        self._texts = self._vecs = None

    def register(self) -> None:
        self.docs = self.spark.read.parquet(self.paths["docs"])
        self.vecs = self.spark.read.parquet(self.paths["vectors"])
        self.rows = parquet_rows(self.paths["docs"]) + parquet_rows(self.paths["vectors"])

    def call(self, tr):
        persisted: list = []
        with tr.span("dedup.lsh"):
            pairs = minhash_lsh_candidates(
                self.docs, jaccard_threshold=JACCARD_THRESHOLD, persisted_frames=persisted
            ).persist()
            persisted.append(pairs)
            lsh_pairs = [(r.id_a, r.id_b) for r in pairs.collect()]
        with tr.span("dedup.closure"):
            kept = drop_near_duplicates(self.docs, pairs, persisted_frames=persisted)
            kept_ids = [r.doc_id for r in kept.select("doc_id").collect()]
        with tr.span("similarity.neardup"):
            vpairs = embedding_near_duplicates(
                self.vecs, cosine_threshold=COSINE_THRESHOLD, dim=64, persisted_frames=persisted
            ).collect()
        self.counts = {
            "dedup.candidate_pairs": len(lsh_pairs),
            "dedup.kept_rows": len(kept_ids),
            "similarity.pairs": len(vpairs),
        }
        return persisted, lsh_pairs, kept_ids, [(r.id_a, r.id_b) for r in vpairs]

    def _load(self) -> None:
        if self._texts is None:
            con = duckdb.connect()
            self._texts = dict(con.execute(
                f"SELECT doc_id, text FROM {_pq(self.paths['docs'])}").fetchall())
            rows = con.execute(
                f"SELECT vec_id, embedding FROM {_pq(self.paths['vectors'])} ORDER BY vec_id"
            ).fetchall()
            con.close()
            self._vecs = np.array([r[1] for r in rows])
            self._shingle_cache: dict[int, set[str]] = {}

    def _sh(self, i: int) -> set[str]:
        s = self._shingle_cache.get(i)
        if s is None:
            s = self._shingle_cache[i] = _shingles(self._texts[i])
        return s

    def check(self, out) -> list[str]:
        _, lsh_pairs, kept_ids, vpairs = out
        self._load()
        errors = []
        for a, b in lsh_pairs:
            sa, sb = self._sh(a), self._sh(b)
            j = len(sa & sb) / len(sa | sb)
            if not a < b or j < JACCARD_THRESHOLD:
                errors.append(f"lsh pair ({a}, {b}) exact jaccard {j:.3f}")
                break
        # driver-side union-find over the returned pairs: keep the smallest
        # id of every component, and every id in no pair
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in lsh_pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = sorted(i for i in self._texts if find(i) == i)
        if sorted(kept_ids) != want:
            errors.append(f"kept {len(kept_ids)} rows, union-find keeps {len(want)}")
        if vpairs:
            a = np.array(vpairs)
            va, vb = self._vecs[a[:, 0]], self._vecs[a[:, 1]]
            cos = (va * vb).sum(1) / np.linalg.norm(va, axis=1) / np.linalg.norm(vb, axis=1)
            bad = int(((cos < COSINE_THRESHOLD - 1e-6) | (a[:, 0] >= a[:, 1])).sum())
            if bad:
                errors.append(f"{bad} vector pairs below cosine {COSINE_THRESHOLD}")
        else:
            errors.append("no vector pairs found")
        if not lsh_pairs:
            errors.append("no lsh pairs found")
        return errors

    def cleanup(self, out) -> None:
        for frame in out[0]:
            frame.unpersist()


class KeysDedup:
    """Exact and near duplicates in one call: KeysWrite, then CorpusNeardup,
    each over its own tables and checked by its own oracle."""

    def __init__(self, spark, paths: dict[str, str], work: Path) -> None:
        self.parts = (KeysWrite(spark, paths, work), CorpusNeardup(spark, paths, work))
        self.counts: dict[str, float] = {}

    def register(self) -> None:
        for part in self.parts:
            part.register()
        self.rows = sum(part.rows for part in self.parts)

    def call(self, tr):
        out = tuple(part.call(tr) for part in self.parts)
        self.counts = {k: v for part in self.parts for k, v in part.counts.items()}
        return out

    def check(self, out) -> list[str]:
        return [e for part, o in zip(self.parts, out) for e in part.check(o)]

    def cleanup(self, out) -> None:
        for part, o in zip(self.parts, out):
            part.cleanup(o)


WORKLOADS = {"suite40": Suite40, "keys_dedup": KeysDedup}
