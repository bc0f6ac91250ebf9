"""Independent final-state oracle: a replay of the landed change log in
DuckDB, sharing no code with the engine except the SQL spelling of the
language normaliser.

Last-writer-wins per (repo, path) by (commit_seq, offset), deletes
dropped, ``sha256(content)`` recomputed.  The engine's state is exported
to parquet by Spark and compared with ``EXCEPT ALL`` in both directions.
"""

from __future__ import annotations

import itertools
import random

import duckdb

from glad_tiles_pipeline_spark.functions.text import normalize_lang_sql

STATE_COLS = "repo, path, commit, lang, content_sha"


def _events(globs: list[str], hw_sql: str) -> str:
    files = ", ".join(f"'{g}'" for g in globs)
    return (
        f"SELECT * FROM read_parquet([{files}]) "
        f"WHERE control IS NULL AND \"offset\" <= {hw_sql}"
    )


def _latest(globs: list[str], hw_sql: str, partition: str) -> str:
    return (
        f"SELECT * FROM ({_events(globs, hw_sql)}) QUALIFY row_number() OVER "
        f"(PARTITION BY {partition} ORDER BY commit_seq DESC, \"offset\" DESC) = 1"
    )


class Oracle:
    def __init__(self, log_globs: list[str], spill_dir: str):
        self.globs = log_globs
        self.con = duckdb.connect()
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute(f"SET temp_directory = '{spill_dir}'")

    def close(self) -> None:
        self.con.close()

    def state_mismatches(self, engine_parquet_glob: str, hw: int) -> dict:
        """Rows missing from / extra in the engine's state at offset
        high-water ``hw``, plus engine rows whose stored ``content_sha``
        is not the sha256 of their stored content."""
        lang = normalize_lang_sql("lang")
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE expected AS SELECT repo, path, commit, "
            f"{lang} AS lang, sha256(content) AS content_sha "
            f"FROM ({_latest(self.globs, str(hw), 'repo, path')}) WHERE op <> 'D'"
        )
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE engine AS SELECT * "
            f"FROM read_parquet('{engine_parquet_glob}')"
        )
        q = self.con.execute
        return {
            "expected_rows": q("SELECT count(*) FROM expected").fetchone()[0],
            "missing": q(f"SELECT count(*) FROM (SELECT {STATE_COLS} FROM expected "
                         f"EXCEPT ALL SELECT {STATE_COLS} FROM engine)").fetchone()[0],
            "extra": q(f"SELECT count(*) FROM (SELECT {STATE_COLS} FROM engine "
                       f"EXCEPT ALL SELECT {STATE_COLS} FROM expected)").fetchone()[0],
            "bad_sha": q("SELECT count(*) FROM engine WHERE content_sha "
                         "IS DISTINCT FROM content_sha_check").fetchone()[0],
        }

    def expected_lookups(self, probes: list[tuple[int, str, str]]) -> list[tuple | None]:
        """Oracle answer for each (hw, repo, path) probe: the live row's
        (commit, lang, content_sha), or None if the key is absent or its
        latest change at ``hw`` is a delete."""
        if not probes:
            return []
        lang = normalize_lang_sql("e.lang")
        self.con.execute("CREATE OR REPLACE TEMP TABLE probes (pid INT, hw BIGINT, repo VARCHAR, path VARCHAR)")
        self.con.executemany("INSERT INTO probes VALUES (?, ?, ?, ?)",
                             [(i, hw, r, p) for i, (hw, r, p) in enumerate(probes)])
        files = ", ".join(f"'{g}'" for g in self.globs)
        rows = self.con.execute(
            f"SELECT p.pid, e.op, e.commit, {lang}, sha256(e.content) "
            f"FROM probes p JOIN read_parquet([{files}]) e "
            f"ON e.repo = p.repo AND e.path = p.path AND e.\"offset\" <= p.hw "
            f"WHERE e.control IS NULL QUALIFY row_number() OVER "
            f"(PARTITION BY p.pid ORDER BY e.commit_seq DESC, e.\"offset\" DESC) = 1"
        ).fetchall()
        out: list[tuple | None] = [None] * len(probes)
        for pid, op, commit, lang_v, sha in rows:
            if op != "D":
                out[pid] = (commit, lang_v, sha)
        return out

    def probe_keys(self, seed: int, counts: dict) -> list[tuple[str, str, str]]:
        """A fixed, seeded set of (kind, repo, path) lookup keys drawn from
        the whole landed log: keys of the hottest repo, keys of the coldest
        third of repos, keys whose latest change is a delete, and keys that
        never occur; ``counts`` gives how many of each kind.  Kinds are
        interleaved, so any prefix of the list is a balanced key set."""
        rng = random.Random(seed)
        q = self.con.execute
        latest = _latest(self.globs, "9223372036854775807", "repo, path")
        repo_counts = q(
            f"SELECT repo, count(*) n FROM ({_events(self.globs, '9223372036854775807')}) "
            "GROUP BY repo ORDER BY n DESC, repo"
        ).fetchall()
        hot = repo_counts[0][0]
        cold = [r for r, _ in repo_counts[len(repo_counts) * 2 // 3:]]

        def pick(sql: str, k: int) -> list[tuple[str, str]]:
            keys = sorted(q(sql).fetchall())
            return rng.sample(keys, min(k, len(keys)))

        cold_list = ", ".join(f"'{r}'" for r in cold)
        out = [("hot", r, p) for r, p in pick(
            f"SELECT repo, path FROM ({latest}) WHERE op <> 'D' AND repo = '{hot}'", counts["hot"])]
        out += [("cold", r, p) for r, p in pick(
            f"SELECT repo, path FROM ({latest}) WHERE op <> 'D' AND repo IN ({cold_list})", counts["cold"])]
        out += [("deleted", r, p) for r, p in pick(
            f"SELECT repo, path FROM ({latest}) WHERE op = 'D'", counts["deleted"])]
        out += [("absent", hot, f"src/absent/never{i:04d}.py") for i in range(counts["absent"])]
        # interleave the kinds, so that any prefix is a balanced key set
        by_kind = [[k for k in out if k[0] == kind] for kind in counts]
        return [k for group in itertools.zip_longest(*by_kind) for k in group if k]

    def hot_repo(self) -> str:
        return self.con.execute(
            f"SELECT repo FROM ({_events(self.globs, '9223372036854775807')}) "
            "GROUP BY repo ORDER BY count(*) DESC, repo LIMIT 1"
        ).fetchone()[0]
