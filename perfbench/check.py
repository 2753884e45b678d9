"""Output checks, run after the timed window.

* Query results are compared with DuckDB running the query's
  ``SparkEntry.oracleSql`` over the same parquet tables, with the
  comparison rules of ``tools/compare_oracle.py`` (rows sorted, columns by
  name, floats to 1e-9).
* The batch store (``toots_clean`` and its seven aggregate tables) is
  compared with DuckDB SQL over the generator's ledger.
* The streaming sinks are compared with the ledger: post count, the sum
  of window counts per minute, and the set of users.

Each check returns a list of failure messages; empty means it passed.
"""
import importlib.util
import os

import duckdb


def _compare_rules(root):
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(root, "tools", "compare_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    def __init__(self, root):
        self.rules = _compare_rules(root)
        self.con = duckdb.connect()

    def same_rows(self, label, got, exp):
        """Compare two row lists under the oracle rules."""
        got, exp = self.rules.norm(got), self.rules.norm(exp)
        if len(got) != len(exp):
            return [f"{label}: {len(got)} rows, expected {len(exp)}"]
        for g, e in zip(got, exp):
            if len(g) != len(e) or not all(
                    self.rules.eq(a, b) for a, b in zip(g, e)):
                return [f"{label}: got {g} expected {e}"]
        return []

    def _rows(self, rel):
        cols = sorted(rel.columns)
        return cols, self.con.sql(
            "SELECT " + ", ".join(f'"{c}"' for c in cols) + " FROM rel"
        ).fetchall()

    def queries(self, data_dir, out_dir, oracle, names):
        for t in self.rules.TABLES:
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        fails = []
        for q in sorted(set(names)):
            path = os.path.join(out_dir, q)
            if not os.path.isdir(path):
                fails.append(f"{q}: no result written")
                continue
            if q not in oracle:
                fails.append(f"{q}: no oracle SQL")
                continue
            got_cols, got = self._rows(
                self.con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')"))
            exp_cols, exp = self._rows(self.con.sql(oracle[q]))
            if got_cols != exp_cols:
                fails.append(f"{q}: columns {got_cols} vs {exp_cols}")
                continue
            fails += self.same_rows(q, got, exp)
        return fails

    def batch(self, store_dir, ledger):
        """``BatchJobs`` store against SQL over the ledger."""
        c = self.con
        c.execute(f"CREATE OR REPLACE VIEW ledger AS SELECT * FROM "
                  f"read_parquet('{ledger}')")
        # cleanToots: trim text and username, drop null/blank; then
        # dedupById keeps the latest created_at (ties: url descending)
        c.execute("""CREATE OR REPLACE TEMP TABLE exp_clean AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT id, epoch_us, trim(text) AS text,
                     trim(username) AS username, hashtags, url,
                     row_number() OVER (PARTITION BY id ORDER BY epoch_us DESC,
                                        url DESC) AS rn
              FROM ledger WHERE NOT malformed AND text IS NOT NULL
                AND username IS NOT NULL AND trim(text) <> '')
            WHERE rn = 1""")
        c.execute(f"""CREATE OR REPLACE TEMP TABLE got_clean AS
            SELECT id, epoch_us(created_at) AS epoch_us, text, username,
                   hashtags, url
            FROM read_parquet('{store_dir}/toots_clean/*.parquet')""")
        day = "(epoch_us // 86400000000)"
        checks = {
            "toots_clean": (
                "SELECT id, epoch_us, text, username, url, "
                "array_to_string(hashtags, '|') FROM {t}", None),
            "hourly_toot_counts": (
                "SELECT epoch_us - epoch_us % 3600000000, count(*) "
                "FROM {t} GROUP BY 1",
                "SELECT epoch_us(hour), toots FROM {p}"),
            "daily_toot_counts": (
                f"SELECT {day}, count(*) FROM {{t}} GROUP BY 1",
                "SELECT day - DATE '1970-01-01', toots FROM {p}"),
            "user_activity_counts": (
                "SELECT username, count(*) FROM {t} GROUP BY 1",
                "SELECT username, toot_count FROM {p}"),
            "active_users_gtX": (
                "SELECT username, count(*) FROM {t} GROUP BY 1 "
                "HAVING count(*) >= 5",
                "SELECT username, toot_count FROM {p}"),
            "hashtags_per_day_counts": (
                f"SELECT d, lower(h), count(*) FROM (SELECT {day} AS d, "
                "unnest(hashtags) AS h FROM {t}) WHERE trim(h) <> '' "
                "GROUP BY 1, 2",
                "SELECT day - DATE '1970-01-01', hashtag, cnt FROM {p}"),
            "top_hashtag_per_day": (
                f"SELECT d, hashtag, cnt FROM (SELECT d, hashtag, cnt, "
                "row_number() OVER (PARTITION BY d ORDER BY cnt DESC, "
                "hashtag) AS rn FROM (SELECT d, lower(h) AS hashtag, "
                f"count(*) AS cnt FROM (SELECT {day} AS d, unnest(hashtags) "
                "AS h FROM {t}) WHERE trim(h) <> '' GROUP BY 1, 2)) "
                "WHERE rn = 1",
                "SELECT day - DATE '1970-01-01', hashtag, cnt FROM {p}"),
            "avg_toot_length_by_user_batch": (
                "SELECT username, avg(length(text)) FROM {t} GROUP BY 1",
                "SELECT username, avg_len FROM {p}"),
        }
        fails = []
        for table, (exp_sql, got_sql) in checks.items():
            path = os.path.join(store_dir, table)
            if not os.path.isdir(path):
                fails.append(f"batch {table}: not written")
                continue
            exp = c.sql(exp_sql.format(t="exp_clean")).fetchall()
            if got_sql is None:
                got = c.sql(exp_sql.format(t="got_clean")).fetchall()
            else:
                got = c.sql(got_sql.format(
                    p=f"read_parquet('{path}/*.parquet')")).fetchall()
            fails += self.same_rows(f"batch {table}", got, exp)
        return fails

    def ingest(self, sink_dir, ledger, lines):
        """Streaming sinks against the first ``lines`` ledger records."""
        c = self.con
        c.execute(f"""CREATE OR REPLACE TEMP TABLE valid AS
            SELECT * FROM read_parquet('{ledger}', file_row_number = true)
            WHERE file_row_number < {int(lines)} AND NOT malformed
              AND text IS NOT NULL AND username IS NOT NULL""")
        posts = f"read_parquet('{sink_dir}/mastodon_posts/*.parquet')"
        counts = f"read_parquet('{sink_dir}/streamed_toot_counts/*.parquet')"
        fails = []
        got = c.sql(f"SELECT count(*) FROM {posts}").fetchone()[0]
        exp = c.sql("SELECT count(*) FROM valid").fetchone()[0]
        if got != exp:
            fails.append(f"ingest posts: {got} rows, expected {exp}")
        fails += self.same_rows(
            "ingest window counts",
            c.sql(f"SELECT epoch_us(window_start), sum(cnt)::BIGINT "
                  f"FROM {counts} GROUP BY 1").fetchall(),
            c.sql("SELECT epoch_us - epoch_us % 60000000, count(*) "
                  "FROM valid GROUP BY 1").fetchall())
        fails += self.same_rows(
            "ingest users",
            c.sql(f"SELECT DISTINCT username FROM {posts}").fetchall(),
            c.sql("SELECT DISTINCT username FROM valid").fetchall())
        return fails
