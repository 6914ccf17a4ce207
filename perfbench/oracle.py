"""Independent oracle for the benchmark's outputs.

Every expected value is computed with DuckDB SQL straight from the
generated parquet. The rules of `graft.CodeFiles.schema` are written out
here by hand, so nothing in this file goes through the engine's rule
compiler.
"""

import math

import duckdb

LANGS = ("scala", "java", "kotlin", "rust", "python", "sql")
NULL_PART = "__NULL__"
STATS_COLS = ("repo", "path", "commit", "content")
DRIFT_BINS, DRIFT_HI = 20, 1000.0

# Violations per row under graft.CodeFiles.schema: every field is
# required, and each value rule fires only on a non-null value.
_ROW_VIOLATIONS = """
    (repo IS NULL)::INT
  + (repo IS NOT NULL AND NOT regexp_full_match(repo, '[A-Za-z0-9._-]+/[A-Za-z0-9._-]+'))::INT
  + (path IS NULL)::INT
  + (path IS NOT NULL AND trim(path) = '')::INT
  + ("commit" IS NULL)::INT
  + ("commit" IS NOT NULL AND NOT regexp_full_match("commit", '[0-9a-f]{40}'))::INT
  + (lang IS NULL)::INT
  + (lang IS NOT NULL AND lang NOT IN (%s))::INT
  + (content IS NULL)::INT
  + (content IS NOT NULL AND NOT coalesce(sha256(content) = expected_sha, false))::INT
""" % ", ".join("'%s'" % l for l in LANGS)


def _glob(d):
    return "%s/**/*.parquet" % d


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def q(self, sql):
        return self.con.execute(sql).fetchall()

    # ---- expected values ------------------------------------------------

    def verdicts(self, code_dir):
        """{partition: (n_rows, n_bad_rows, n_violations, pass)}."""
        rows = self.q("""
            SELECT coalesce(lang, '%s') AS part, count(*),
                   sum((nv > 0)::BIGINT), sum(nv)::BIGINT
            FROM (SELECT lang, %s AS nv FROM read_parquet('%s'))
            GROUP BY ALL""" % (NULL_PART, _ROW_VIOLATIONS, _glob(code_dir)))
        return {p: (n, bad, nv, nv == 0) for p, n, bad, nv in rows}

    def unique(self, code_dir):
        (r,) = self.q("""
            SELECT sum(n)::BIGINT, count(*), sum((n > 1)::BIGINT),
                   sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT
            FROM (SELECT repo, path, "commit", count(*) AS n
                  FROM read_parquet('%s') GROUP BY ALL)""" % _glob(code_dir))
        return dict(zip(("n_rows", "n_keys", "n_dup_keys", "n_dup_rows"), r))

    def refint(self, code_dir, dim_dir):
        (r,) = self.q("""
            SELECT count(*),
                   sum((c.repo IS NULL OR c."commit" IS NULL)::BIGINT),
                   sum((c.repo IS NOT NULL AND c."commit" IS NOT NULL
                        AND d.repo IS NULL)::BIGINT)
            FROM read_parquet('%s') c
            LEFT JOIN (SELECT DISTINCT repo, "commit" FROM read_parquet('%s')) d
              ON c.repo = d.repo AND c."commit" = d."commit"
            """ % (_glob(code_dir), _glob(dim_dir)))
        return dict(zip(("n_rows", "n_null_keys", "n_orphans"), r))

    def stats(self, code_dir):
        """{(lang, column): (n_rows, n_null, exact n_distinct)}."""
        out = {}
        for c in STATS_COLS:
            for lang, n, nn, nd in self.q("""
                    SELECT lang, count(*), sum((%s IS NULL)::BIGINT),
                           count(DISTINCT %s)
                    FROM read_parquet('%s') GROUP BY ALL"""
                    % (_q(c), _q(c), _glob(code_dir))):
                out[(lang, c)] = (n, nn, nd)
        return out

    def drift(self, code_dir):
        """{lang: (n_cur, n_base, psi, ks)} for content length against
        the global distribution, 20 equal bins over [0, 1000)."""
        width = DRIFT_HI / DRIFT_BINS
        rows = self.q("""
            SELECT lang, least(greatest(floor(length(content) / %f), 0), %d)::BIGINT AS bin,
                   count(*)
            FROM read_parquet('%s') WHERE content IS NOT NULL GROUP BY ALL
            """ % (width, DRIFT_BINS - 1, _glob(code_dir)))
        base, cur = {}, {}
        for lang, b, n in rows:
            base[b] = base.get(b, 0) + n
            cur.setdefault(lang, {})[b] = n
        n_base = sum(base.values())
        eps = 1e-6
        out = {}
        for lang, hist in cur.items():
            n_cur = sum(hist.values())
            psi, cp, cq, ks = 0.0, 0.0, 0.0, 0.0
            for b in sorted(base):
                p, q = hist.get(b, 0) / n_cur, base[b] / n_base
                pc, qc = max(p, eps), max(q, eps)
                psi += (pc - qc) * math.log(pc / qc)
                cp += p
                cq += q
                ks = max(ks, abs(cp - cq))
            out[lang] = (n_cur, n_base, psi, ks)
        return out

    # ---- what the engine wrote ------------------------------------------

    def written_verdicts(self, out_dir):
        """Summed verdict rows under out_dir/verdicts, per partition."""
        rows = self.q("""
            SELECT coalesce(lang, '%s'), sum(n_rows)::BIGINT, sum(n_bad_rows)::BIGINT,
                   sum(n_violations)::BIGINT, bool_and(pass)
            FROM read_parquet('%s', hive_partitioning = true, union_by_name = true)
            GROUP BY ALL""" % (NULL_PART, _glob(out_dir + "/verdicts")))
        return {p: (n, bad, nv, ok) for p, n, bad, nv, ok in rows}

    def written_manifest(self, out_dir):
        rows = self.q("""
            SELECT partition, sum(n_rows)::BIGINT, sum(n_bad_rows)::BIGINT,
                   sum(n_violations)::BIGINT, bool_and(pass)
            FROM read_parquet('%s') GROUP BY ALL""" % _glob(out_dir + "/manifest"))
        return {p: (n, bad, nv, ok) for p, n, bad, nv, ok in rows}

    def written_violations(self, out_dir):
        rows = self.q("""
            SELECT coalesce(lang, '%s'), count(*)
            FROM read_parquet('%s', hive_partitioning = true) GROUP BY ALL"""
                      % (NULL_PART, _glob(out_dir + "/violations")))
        return dict(rows)


def _q(c):
    return '"%s"' % c


def check_run_output(oracle, out_dir, expected):
    """Mismatches between one ValidationRun.run output dir and the oracle."""
    errs = []
    got = oracle.written_verdicts(out_dir)
    if got != expected:
        errs.append("verdicts %s != oracle %s" % (got, expected))
    man = oracle.written_manifest(out_dir)
    if man != expected:
        errs.append("manifest %s != oracle %s" % (man, expected))
    viol = oracle.written_violations(out_dir)
    want = {p: v for p, (_, _, v, _) in expected.items() if v}
    if viol != want:
        errs.append("violation rows %s != oracle %s" % (viol, want))
    return errs


def check_stream_output(oracle, out_dir, expected):
    """Per-batch verdicts of one streaming query, summed (a partition
    passes when it passes in every batch), against the oracle over every
    stream file."""
    errs = []
    got = oracle.written_verdicts(out_dir)
    if got != expected:
        errs.append("summed batch verdicts %s != oracle %s" % (got, expected))
    man = oracle.written_manifest(out_dir)
    if man != expected:
        errs.append("summed manifest %s != oracle %s" % (man, expected))
    return errs


def check_checks_result(res, want):
    """Mismatches between one checks pass and the oracle's `want`."""
    errs = []
    for k, v in want["unique"].items():
        if res["unique"].get(k) != v:
            errs.append("unique.%s %s != oracle %s" % (k, res["unique"].get(k), v))
    for k, v in want["refint"].items():
        if res["refint"].get(k) != v:
            errs.append("refint.%s %s != oracle %s" % (k, res["refint"].get(k), v))
    got_stats = {(r["lang"], r["column"]): r for r in res["stats"]}
    if set(got_stats) != set(want["stats"]):
        errs.append("stats groups %s != oracle %s" % (sorted(got_stats), sorted(want["stats"])))
    for key, (n, nn, nd) in want["stats"].items():
        r = got_stats.get(key)
        if r is None:
            continue
        if (r["n_rows"], r["n_null"]) != (n, nn):
            errs.append("stats %s n_rows/n_null %s != oracle %s"
                        % (key, (r["n_rows"], r["n_null"]), (n, nn)))
        # HyperLogLog++ at rsd 0.05 has 512 registers (standard error
        # 4.6%); over many groups and runs three standard errors are
        # exceeded now and then, so allow five and a half.
        if abs(r["n_distinct"] - nd) > max(0.25 * nd, 2):
            errs.append("stats %s n_distinct %s far from exact %s" % (key, r["n_distinct"], nd))
    got_drift = {r["lang"]: r for r in res["drift"]}
    if set(got_drift) != set(want["drift"]):
        errs.append("drift groups %s != oracle %s" % (sorted(got_drift), sorted(want["drift"])))
    for lang, (n_cur, n_base, psi, ks) in want["drift"].items():
        r = got_drift.get(lang)
        if r is None:
            continue
        if (r["n_cur"], r["n_base"]) != (n_cur, n_base):
            errs.append("drift %s counts %s != oracle %s"
                        % (lang, (r["n_cur"], r["n_base"]), (n_cur, n_base)))
        # the engine rounds psi and ks to 6 decimals
        if abs(r["psi"] - psi) > 2e-6 or abs(r["ks"] - ks) > 2e-6:
            errs.append("drift %s psi/ks %s != oracle %s"
                        % (lang, (r["psi"], r["ks"]), (psi, ks)))
    return errs
