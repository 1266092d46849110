"""Output gate: every committed triple set and every serve response against
the DuckDB `kg_triples` oracle (`SparkEntry.oracleSql("kg_triples")`) over
the same `documents.parquet`."""
import duckdb

COLS = 'subj, pred, obj, confidence, namespace, "match", start, "end", url'


class Oracle:
    def __init__(self, documents_parquet, oracle_sql):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_parquet}')")
        self.con.execute(f"CREATE TABLE expected AS SELECT {COLS} FROM ({oracle_sql})")

    def rows(self):
        return self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def _view(self, triples_dir):
        self.con.execute(
            "CREATE OR REPLACE VIEW got AS SELECT subj, pred, obj, confidence, namespace, "
            'matchStr AS "match", start, "end", url FROM read_parquet('
            f"'{triples_dir}/**/*.parquet', hive_partitioning = true)")

    def mismatches(self, triples_dir):
        """Rows in one side but not the other, counted as multisets."""
        self._view(triples_dir)
        return self.con.execute(
            f"SELECT count(*) FROM ((SELECT {COLS} FROM got EXCEPT ALL SELECT {COLS} FROM expected) "
            f"UNION ALL (SELECT {COLS} FROM expected EXCEPT ALL SELECT {COLS} FROM got))"
        ).fetchone()[0]

    def digest(self, triples_dir):
        """Order-free digest of a triple multiset."""
        self._view(triples_dir)
        return str(self.con.execute(
            f"SELECT count(*) || ':' || sum(hash({COLS})) FROM got").fetchone()[0])

    def serve_mismatches(self, rows_file):
        """Responses whose (start, end, class, obj) rows differ from the
        oracle rows of their doc; `rows_file` holds one distinct response
        per line as `doc \\x01 row \\x02 row ...`."""
        want = {}
        for url, start, end, pred, obj in self.con.execute(
                'SELECT url, start, "end", pred, obj FROM expected').fetchall():
            doc = int(url.rsplit("/", 1)[1])
            want.setdefault(doc, []).append(
                f"{start}\t{end}\t{pred[len('mentions_'):]}\t{obj}")
        want = {d: "\x02".join(sorted(rs)) for d, rs in want.items()}
        bad = 0
        with open(rows_file, encoding="utf-8") as f:
            for line in f:
                doc, rows = line.rstrip("\n").split("\x01")
                if want.get(int(doc), "") != rows:
                    bad += 1
        return bad
