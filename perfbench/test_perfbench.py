"""Self-tests of the benchmark: the tail rule, span self-time arithmetic,
and that each output check fails on a deliberately perturbed result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a source checkout (the query check loads the
comparison rules of ``tools/compare_oracle.py``).
"""
import os
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
from check import Checker  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        cases = {19: None, 20: 50, 39: 50, 40: 75, 50: 80, 99: 80, 100: 90,
                 200: 95, 999: 95, 1000: 99, 9999: 99, 10000: 99.9}
        for n, p in cases.items():
            self.assertEqual(metrics.tail_percentile(n), p, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 99.9), 100)
        self.assertEqual(metrics.tail(xs), (90, 90))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100, 3.0))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        s = 1_000_000_000
        spans = [["op", 1, -1, 0, 10 * s],
                 ["a", 1, 0, 1 * s, 3 * s],
                 ["a", 1, 0, 2 * s, 5 * s],    # overlaps the first child
                 ["b", 1, 0, 7 * s, 8 * s],
                 ["c", 1, 3, 7 * s, 9 * s]]    # runs past its parent
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["op"], 10 - 4 - 1)
        self.assertAlmostEqual(st["a"], 2 + 3)
        self.assertAlmostEqual(st["b"], 0)
        self.assertAlmostEqual(st["c"], 2)

    def test_breakdown_groups_by_layer(self):
        s = 1_000_000_000
        spans = [["query:q1", 1, -1, 0, 4 * s],
                 ["ops.build", 1, 0, 0, 1 * s],
                 ["exec.run", 1, 0, 1 * s, 4 * s],
                 ["store.write:t", -1, 2, 2 * s, 3 * s]]
        bd = metrics.breakdown({"spans": spans})
        self.assertEqual(bd, {"query": 0, "ops.build": 1, "exec.run": 2,
                              "store.write": 1})


class Checks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.d = self.tmp.name
        self.chk = Checker(ROOT)
        self.con = duckdb.connect()

    def tearDown(self):
        self.tmp.cleanup()

    def sql(self, q):
        self.con.execute(q)

    def test_query_check_fails_on_perturbed_result(self):
        data = os.path.join(self.d, "data")
        gen.tables(7, data)
        oracle = {"per_region": "SELECT n_regionkey AS r, count(*) AS n "
                                "FROM nation GROUP BY 1"}
        out = os.path.join(self.d, "out")

        def write(q):
            os.makedirs(f"{out}/per_region", exist_ok=True)
            self.sql(f"CREATE OR REPLACE VIEW nation AS SELECT * FROM "
                     f"'{data}/nation.parquet'")
            self.sql(f"COPY ({q}) TO '{out}/per_region/part-0.parquet'")

        write(oracle["per_region"])
        self.assertEqual(self.chk.queries(data, out, oracle, ["per_region"]), [])
        write("SELECT n_regionkey AS r, count(*) + (n_regionkey = 2)::INT AS n "
              "FROM nation GROUP BY 1")
        self.assertTrue(self.chk.queries(data, out, oracle, ["per_region"]))
        write("SELECT n_regionkey AS r, count(*) AS n FROM nation "
              "WHERE n_regionkey > 0 GROUP BY 1")
        self.assertTrue(self.chk.queries(data, out, oracle, ["per_region"]))

    def _store(self, ledger, perturb=None):
        """Write the store the batch jobs should produce, optionally with
        one table replaced by ``perturb[1]``."""
        store = os.path.join(self.d, "store")
        self.sql(f"CREATE OR REPLACE VIEW ledger AS SELECT * FROM '{ledger}'")
        self.sql("""CREATE OR REPLACE TABLE clean AS
            SELECT make_timestamp(epoch_us) AS created_at, * EXCLUDE (rn)
            FROM (SELECT id, epoch_us, trim(text) AS text,
                         trim(username) AS username, hashtags, url,
                         row_number() OVER (PARTITION BY id
                            ORDER BY epoch_us DESC, url DESC) AS rn
                  FROM ledger WHERE NOT malformed AND text IS NOT NULL
                    AND username IS NOT NULL AND trim(text) <> '')
            WHERE rn = 1""")
        day = "CAST(created_at AS DATE)"
        tables = {
            "toots_clean": "SELECT * EXCLUDE (epoch_us) FROM clean",
            "hourly_toot_counts": "SELECT date_trunc('hour', created_at) "
                                  "AS hour, count(*) AS toots FROM clean "
                                  "GROUP BY 1",
            "daily_toot_counts": f"SELECT {day} AS day, count(*) AS toots "
                                 "FROM clean GROUP BY 1",
            "user_activity_counts": "SELECT username, count(*) AS toot_count "
                                    "FROM clean GROUP BY 1",
            "active_users_gtX": "SELECT username, count(*) AS toot_count "
                                "FROM clean GROUP BY 1 HAVING count(*) >= 5",
            "hashtags_per_day_counts": f"SELECT day, lower(h) AS hashtag, "
                f"count(*) AS cnt FROM (SELECT {day} AS day, unnest(hashtags) "
                "AS h FROM clean) WHERE trim(h) <> '' GROUP BY 1, 2",
            "top_hashtag_per_day": "SELECT day, hashtag, cnt FROM (SELECT *, "
                "row_number() OVER (PARTITION BY day ORDER BY cnt DESC, "
                f"hashtag) AS rn FROM (SELECT day, lower(h) AS hashtag, "
                f"count(*) AS cnt FROM (SELECT {day} AS day, unnest(hashtags) "
                "AS h FROM clean) WHERE trim(h) <> '' GROUP BY 1, 2)) "
                "WHERE rn = 1",
            "avg_toot_length_by_user_batch": "SELECT username, "
                "avg(length(text)) AS avg_len FROM clean GROUP BY 1",
        }
        if perturb:
            tables[perturb[0]] = perturb[1]
        for t, q in tables.items():
            os.makedirs(f"{store}/{t}", exist_ok=True)
            self.sql(f"COPY ({q}) TO '{store}/{t}/part-0.parquet'")
        return store

    def test_batch_check_fails_on_perturbed_result(self):
        corpus = os.path.join(self.d, "corpus.jsonl")
        gen.write_toots(corpus, *gen.toots(3, 2000))
        ledger = corpus + ".ledger.parquet"
        self.assertEqual(self.chk.batch(self._store(ledger), ledger), [])
        perturbed = [
            ("toots_clean", "SELECT * EXCLUDE (epoch_us) FROM clean "
                            "WHERE id <> (SELECT min(id) FROM clean)"),
            ("user_activity_counts", "SELECT username, count(*) + 1 AS "
                                     "toot_count FROM clean GROUP BY 1"),
            ("avg_toot_length_by_user_batch", "SELECT username, "
                "avg(length(text)) * 1.001 AS avg_len FROM clean GROUP BY 1"),
            ("top_hashtag_per_day", "SELECT CAST(created_at AS DATE) AS day, "
                "'tag0' AS hashtag, 1 AS cnt FROM clean GROUP BY 1"),
        ]
        for p in perturbed:
            self.assertTrue(self.chk.batch(self._store(ledger, p), ledger),
                            p[0])

    def _sinks(self, ledger, lines, posts_where="TRUE", count_delta=0,
               user_suffix=""):
        sinks = os.path.join(self.d, "sinks")
        self.sql(f"""CREATE OR REPLACE TABLE v AS
            SELECT * FROM read_parquet('{ledger}', file_row_number = true)
            WHERE file_row_number < {lines} AND NOT malformed
              AND text IS NOT NULL AND username IS NOT NULL""")
        q = {"mastodon_posts": f"SELECT username || '{user_suffix}' AS "
                               "username, text AS content, make_timestamp("
                               f"epoch_us) AS ts FROM v WHERE {posts_where}",
             "streamed_toot_counts": "SELECT 0 AS batch_id, make_timestamp("
                "epoch_us - epoch_us % 60000000) AS window_start, "
                f"count(*) + {count_delta} AS cnt FROM v GROUP BY 2"}
        for t, sql in q.items():
            os.makedirs(f"{sinks}/{t}", exist_ok=True)
            self.sql(f"COPY ({sql}) TO '{sinks}/{t}/part-0.parquet'")
        return sinks

    def test_ingest_check_fails_on_perturbed_result(self):
        stream = os.path.join(self.d, "stream.jsonl")
        gen.write_toots(stream, *gen.toots(5, 3000))
        ledger = stream + ".ledger.parquet"
        self.assertEqual(self.chk.ingest(self._sinks(ledger, 2500), ledger,
                                         2500), [])
        self.assertTrue(self.chk.ingest(self._sinks(ledger, 2400), ledger, 2500))
        self.assertTrue(self.chk.ingest(
            self._sinks(ledger, 2500, count_delta=1), ledger, 2500))
        self.assertTrue(self.chk.ingest(
            self._sinks(ledger, 2500, user_suffix="x"), ledger, 2500))


if __name__ == "__main__":
    unittest.main()
