"""The perfbench workloads: set-up, warm-up with correctness checks, and
the op stream the harness times.

Each workload drives the library's public functions from outside.  An
op is one call the user makes (a query, an ``insert_many`` batch, a
corpus query run to a sink); ops come in fixed cycles so every run
measures the same mix.  Every check returns a list of failure messages,
empty when the output is right.

``store`` composes the document-store parts, ``DocQuery`` (reads of a
fixed store) and ``Ingest`` (writes into a growing one); ``corpus_dedup``
runs the dedup/ANN registry queries.
"""

from __future__ import annotations

import math
import os
import random
import time
from dataclasses import dataclass
from itertools import count
from typing import Any, Callable, Iterator

import gen


@dataclass
class Op:
    kind: str  # the public call, e.g. "find", "aggregate", "insert_many"
    label: str  # which instance of the call
    run: Callable[[], Any]  # performs the op; returns a comparable result
    check: Callable[[Any], list[str]]
    cycle: int = 0


def canon(value: Any) -> Any:
    """Comparable form of a result: floats rounded, rows as tuples."""
    if isinstance(value, float):
        return round(value, 6)
    if isinstance(value, (list, tuple)):
        return tuple(canon(v) for v in value)
    if isinstance(value, dict):
        return tuple(sorted((k, canon(v)) for k, v in value.items()))
    return value


def compare(label: str, got: Any, expected: Any) -> list[str]:
    got, expected = canon(got), canon(expected)
    if got == expected:
        return []
    return [f"{label}: got {str(got)[:200]} expected {str(expected)[:200]}"]


def part_files(path: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(path):
        out += [os.path.join(root, n) for n in names if n.startswith("part-") and not n.endswith(".crc")]
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in part_files(path)) if os.path.isdir(path) else 0


def write_table(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), path)


# ---------------------------------------------------------------------------
# doc_query: the Mongo-dialect read surface over one generated store
# ---------------------------------------------------------------------------


class DocQuery:
    """Queries over a store of ``N_DOCS`` snapshots in ``N_SESSIONS``
    sessions written once through ``write_df``.  Every query instance is
    checked against DuckDB over the store's parquet in the warm-up; each
    timed result must equal the checked one."""

    N_DOCS, N_SESSIONS = 20_000, 100

    def __init__(self, spark, work: str, seed: int, prepared: dict, tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.prepared = prepared
        self.path = os.path.join(work, "store.parquet")
        self.expected: dict[str, Any] = {}
        self.oracle_s = 0.0

    @classmethod
    def prepare(cls, work: str, seed: int) -> dict:
        """Generate the corpus (no Spark needed, so it overlaps start-up)."""
        import pyarrow as pa

        docs = gen.make_docs(seed, 0, cls.N_DOCS, cls.N_DOCS // cls.N_SESSIONS)
        for d in docs:
            del d["payload"]
        sessions_path = os.path.join(work, "sessions.parquet")
        write_table(gen.sessions_table(seed, cls.N_SESSIONS), sessions_path)
        return {
            "table": pa.Table.from_pylist(docs),
            "sessions_path": sessions_path,
        }

    def setup(self) -> None:
        from topic_store_spark.filesystem import ParquetStorage

        self.store = ParquetStorage(self.spark, self.path)
        self.store.write_df(self.spark.createDataFrame(self.prepared.pop("table")))
        sessions_path = self.prepared["sessions_path"]
        self.sessions = self.spark.read.parquet(sessions_path)

        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW store AS SELECT * FROM read_parquet('{self.path}/*.parquet')")
        self.con.execute(f"CREATE VIEW sessions AS SELECT * FROM read_parquet('{sessions_path}')")

    def templates(self) -> list[tuple[str, str, Callable[[], Any], Callable[[], Any]]]:
        """(kind, label, spark call, expected) for every query instance."""
        import topic_store_spark.query as tq

        rng = random.Random(self.seed)
        st, sql = self.store, self._sql
        sid = lambda s: gen.session_id(self.seed, s)  # noqa: E731
        sa, sb = sid(rng.randrange(1, self.N_SESSIONS)), sid(rng.randrange(1, self.N_SESSIONS))
        s_chain = [rng.randrange(1, self.N_SESSIONS) for _ in range(2)]
        label, label2 = rng.sample(gen.LABELS, 2)
        battery = round(rng.uniform(20, 80), 1)
        doc = rng.randrange(self.N_DOCS)
        x = round(rng.uniform(-5, 5), 2)
        seq_cut = rng.randrange(self.N_DOCS // 4, self.N_DOCS)
        return [
            (
                "find",
                "filter+projection+sort+limit",
                lambda: [
                    (r["seq"], r["robot"]["pose"]["x"])
                    for r in st.find(
                        {"label": label, "robot.battery": {"$lt": battery}},
                        projection={"seq": 1, "robot.pose.x": 1},
                        sort=[("seq", -1)],
                        limit=20,
                    ).collect()
                ],
                lambda: sql(
                    "SELECT seq, robot.pose.x FROM store WHERE label = ? AND robot.battery < ? "
                    "ORDER BY seq DESC LIMIT 20",
                    [label, battery],
                ),
            ),
            (
                "find_by_id",
                "point lookup",
                lambda: [
                    (d["seq"], d["label"], d["robot"]["battery"])
                    for d in [st.find_by_id(gen.doc_id(self.seed, doc))]
                ],
                lambda: sql(
                    "SELECT seq, label, robot.battery FROM store WHERE _id = ?",
                    [gen.doc_id(self.seed, doc)],
                ),
            ),
            (
                "find_by_session_id",
                "session scan",
                lambda: _seq_summary(r["seq"] for r in st.find_by_session_id(sa).collect()),
                lambda: sql(
                    "SELECT count(*), sum(seq), min(seq), max(seq) FROM store "
                    "WHERE _ts_meta.session = ?",
                    [sa],
                ),
            ),
            (
                "count",
                "filtered count",
                lambda: [(st.count({"robot.pose.x": {"$gt": x}, "label": {"$in": [label, label2]}}),)],
                lambda: sql(
                    "SELECT count(*) FROM store WHERE robot.pose.x > ? AND label IN (?, ?)",
                    [x, label, label2],
                ),
            ),
            (
                "distinct",
                "distinct sessions under a filter",
                lambda: [(v,) for v in st.distinct("_ts_meta.session", {"robot.battery": {"$gt": 99.0}})],
                lambda: sql(
                    "SELECT DISTINCT _ts_meta.session AS s FROM store WHERE robot.battery > 99.0 ORDER BY s"
                ),
            ),
            (
                "unique_sessions",
                "get_unique_sessions",
                lambda: [(r["session"], r["count"]) for r in st.get_unique_sessions().collect()],
                lambda: sql(
                    "SELECT _ts_meta.session AS s, count(*) FROM store GROUP BY s ORDER BY s"
                ),
            ),
            (
                "aggregate",
                "$match/$group/$sort",
                lambda: _rows(
                    st.aggregate(
                        [
                            {"$match": {"robot.battery": {"$gt": battery}}},
                            {"$group": {"_id": "$label", "n": {"$sum": 1}, "b": {"$avg": "$robot.battery"}}},
                            {"$sort": {"_id": 1}},
                        ]
                    ),
                    ("_id", "n", "b"),
                ),
                lambda: sql(
                    "SELECT label, count(*), avg(robot.battery) FROM store WHERE robot.battery > ? "
                    "GROUP BY label ORDER BY label",
                    [battery],
                ),
            ),
            (
                "aggregate",
                "$unwind",
                lambda: sorted(
                    _rows(
                        st.aggregate(
                            [
                                {"$match": {"_ts_meta.session": sa}},
                                {"$unwind": "$scan"},
                                {"$group": {"_id": "$label", "m": {"$max": "$scan"}, "n": {"$sum": 1}}},
                            ]
                        ),
                        ("_id", "m", "n"),
                    )
                ),
                lambda: sql(
                    "SELECT label, max(v), count(*) FROM (SELECT label, unnest(scan) AS v FROM store "
                    "WHERE _ts_meta.session = ?) GROUP BY label ORDER BY label",
                    [sa],
                ),
            ),
            (
                "aggregate",
                "$bucket",
                lambda: sorted(
                    (float(r["_id"]), r["n"])
                    for r in st.aggregate(
                        [
                            {
                                "$bucket": {
                                    "groupBy": "$robot.battery",
                                    "boundaries": [0, 25, 50, 75, 101],
                                    "default": "other",
                                    "output": {"n": {"$sum": 1}},
                                }
                            }
                        ]
                    ).collect()
                ),
                lambda: sql(
                    "SELECT CAST(CASE WHEN robot.battery < 25 THEN 0 WHEN robot.battery < 50 THEN 25 "
                    "WHEN robot.battery < 75 THEN 50 ELSE 75 END AS DOUBLE) AS b, count(*) FROM store "
                    "GROUP BY b ORDER BY b"
                ),
            ),
            (
                "aggregate",
                "$facet",
                lambda: _facet(
                    st.aggregate(
                        [
                            {"$match": {"seq": {"$lt": seq_cut}}},
                            {
                                "$facet": {
                                    "by_label": [{"$sortByCount": "$label"}],
                                    "low": [{"$match": {"robot.battery": {"$lt": 10}}}, {"$count": "n"}],
                                }
                            },
                        ]
                    ).first()
                ),
                lambda: sql(
                    "SELECT label, count(*) AS c FROM store WHERE seq < ? GROUP BY label "
                    "ORDER BY c DESC, label",
                    [seq_cut],
                )
                + sql("SELECT count(*) FROM store WHERE seq < ? AND robot.battery < 10", [seq_cut]),
            ),
            (
                "aggregate",
                "$setWindowFields",
                lambda: _rows(
                    st.aggregate(
                        [
                            {"$match": {"_ts_meta.session": sb}},
                            {
                                "$setWindowFields": {
                                    "partitionBy": "$label",
                                    "sortBy": {"seq": 1},
                                    "output": {
                                        "cum": {
                                            "$sum": "$robot.battery",
                                            "window": {"documents": ["unbounded", "current"]},
                                        }
                                    },
                                }
                            },
                            {"$sort": {"seq": 1}},
                            {"$limit": 50},
                        ]
                    ),
                    ("seq", "cum"),
                ),
                lambda: sql(
                    "SELECT seq, sum(robot.battery) OVER (PARTITION BY label ORDER BY seq "
                    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM store "
                    "WHERE _ts_meta.session = ? ORDER BY seq LIMIT 50",
                    [sb],
                ),
            ),
            (
                "aggregate",
                "$lookup",
                lambda: sorted(
                    _rows(
                        tq.apply_pipeline(
                            st.to_df(),
                            [
                                {"$match": {"_ts_meta.session": {"$in": [sa, sb]}}},
                                {
                                    "$lookup": {
                                        "from": "sessions",
                                        "localField": "_ts_meta.session",
                                        "foreignField": "session",
                                        "as": "meta",
                                    }
                                },
                                {"$unwind": "$meta"},
                                {"$group": {"_id": "$meta.site", "n": {"$sum": 1}}},
                            ],
                            tables={"sessions": self.sessions},
                        ),
                        ("_id", "n"),
                    )
                ),
                lambda: sql(
                    "SELECT m.site, count(*) FROM store s JOIN sessions m ON s._ts_meta.session = m.session "
                    "WHERE s._ts_meta.session IN (?, ?) GROUP BY m.site ORDER BY m.site",
                    [sa, sb],
                ),
            ),
            (
                "aggregate",
                "$graphLookup",
                lambda: sorted(
                    _rows(
                        tq.apply_pipeline(
                            self.sessions,
                            [
                                {"$match": {"session": {"$in": [sid(s) for s in s_chain]}}},
                                {
                                    "$graphLookup": {
                                        "from": "sessions",
                                        "startWith": "$parent",
                                        "connectFromField": "parent",
                                        "connectToField": "session",
                                        "as": "chain",
                                        "maxDepth": 2,
                                    }
                                },
                                {"$project": {"session": 1, "n": {"$size": "$chain"}}},
                            ],
                            tables={"sessions": self.sessions},
                        ),
                        ("session", "n"),
                    )
                ),
                # closed form: session s's ancestors are s-1 .. 0, cut at depth 2
                lambda: sorted({(sid(s), min(s, 3)) for s in s_chain}),
            ),
        ]

    def _sql(self, query: str, params: list | None = None) -> list[tuple]:
        return self.con.execute(query, params or []).fetchall()

    def warmup(self) -> tuple[int, list[str]]:
        """Each query instance once, checked against DuckDB, then once
        more checked against the first answer: one pass alone leaves the
        Spark driver's query path still warming."""
        failures = []
        self.ops_list = []
        for kind, label, call, expected in self.templates():
            try:
                got = call()
                t0 = time.perf_counter()
                want = expected()
                self.oracle_s += time.perf_counter() - t0
                failures += compare(f"{kind} {label}", got, want)
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                failures.append(f"{kind} {label}: {exc!r}"[:300])
                got = None
            self.expected[label] = canon(got)
            self.ops_list.append((kind, label, call))
        for kind, label, call in self.ops_list:
            try:
                failures += self._checker(label)(call())
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                failures.append(f"{kind} {label}: {exc!r}"[:300])
        return 2 * len(self.ops_list), failures

    def cycle_ops(self, cycle: int) -> list[Op]:
        """Every query instance once, in a seeded order (the same each cycle)."""
        order = list(self.ops_list)
        random.Random(self.seed * 7919 + 1).shuffle(order)
        return [Op(kind, label, call, self._checker(label), cycle) for kind, label, call in order]

    def _checker(self, label: str) -> Callable[[Any], list[str]]:
        return lambda got: compare(label, got, self.expected[label])

    def finish(self) -> tuple[int, list[str]]:
        self.con.close()
        return 0, []


def _rows(df, fields: tuple[str, ...]) -> list[tuple]:
    return [tuple(r[f] for f in fields) for r in df.collect()]


def _seq_summary(seqs) -> list[tuple]:
    seqs = list(seqs)
    return [(len(seqs), sum(seqs), min(seqs), max(seqs))]


def _facet(row) -> list[tuple]:
    low = row["low"]
    return [(r["_id"], r["count"]) for r in row["by_label"]] + [(low[0]["n"] if low else 0,)]


# ---------------------------------------------------------------------------
# ingest: the capture write path, blobs, read-back and incremental clone
# ---------------------------------------------------------------------------


class Ingest:
    """``insert_many`` batches into a fresh store with a blob directory;
    each cycle is ``inserts_per_cycle`` batches then a read-back of the
    newest session.  After the loop, ``clone_incremental`` copies the
    store into a replica that already holds the even ids."""

    batch = 50  # docs per insert_many
    inserts_per_cycle = 3
    warmup_inserts = 2
    docs_per_session = 200
    payload_every = 10  # one doc in 10 carries a payload ...
    payload_bytes = 8192  # ... over the blob threshold
    blob_threshold = 4096

    def __init__(self, spark, work: str, seed: int, prepared: dict, tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.acked: list[str] = []
        self.doc_bytes = 0
        self.clone_result: dict[str, int] = {}
        self.n_batch = 0

    def _store(self, name: str, blobs: bool = True):
        from topic_store_spark.filesystem import ParquetStorage

        return ParquetStorage(
            self.spark,
            os.path.join(self.work, name, "store.parquet"),
            blob_dir=os.path.join(self.work, name, "blobs") if blobs else None,
            blob_threshold=self.blob_threshold,
        )

    def _docs(self, start: int) -> list[dict]:
        return gen.make_docs(
            self.seed, start, self.batch, self.docs_per_session, self.payload_every, self.payload_bytes
        )

    def setup(self) -> None:
        self.store = self._store("main")

    def warmup(self) -> tuple[int, list[str]]:
        """Inserts into a throw-away store and a read-back, checked; the
        Spark driver's insert path needs a handful of calls to warm up."""
        warm = self._store("warm")
        for b in range(self.warmup_inserts):
            warm.insert_many(self._docs(b * self.batch))
        last = self.warmup_inserts * self.batch - 1
        return 1, self.check_readback(self.read_back(warm, last), last)

    def cycle_ops(self, cycle: int) -> list[Op]:
        """The next ``inserts_per_cycle`` batches, then the read-back."""
        ops = []
        for _ in range(self.inserts_per_cycle):
            docs = self._docs(self.n_batch * self.batch)
            nbytes = sum(gen.doc_bytes(d) for d in docs)
            expect = [d["_id"] for d in docs]
            ops.append(
                Op(
                    "insert_many",
                    f"batch {self.n_batch}",
                    lambda docs=docs, nbytes=nbytes: self._insert(docs, nbytes),
                    lambda got, expect=expect: compare("insert_many ids", got, expect),
                    cycle,
                )
            )
            self.n_batch += 1
        last = self.n_batch * self.batch - 1
        ops.append(
            Op(
                "find_by_session_id",
                "read-back",
                lambda: self.read_back(self.store, last),
                lambda rows: self.check_readback(rows, last),
                cycle,
            )
        )
        return ops

    def _insert(self, docs: list[dict], nbytes: int) -> list[str]:
        ids = self.store.insert_many(docs)
        self.acked += ids
        self.doc_bytes += nbytes
        return ids

    def read_back(self, store, last: int) -> list:
        """The session of document ``last``, materialised."""
        session = gen.session_id(self.seed, last // self.docs_per_session)
        return store.find_by_session_id(session).collect()

    def check_readback(self, rows: list, last: int) -> list[str]:
        """The session reads back complete up to ``last``, blobs byte-equal."""
        first = last // self.docs_per_session * self.docs_per_session
        failures = compare(
            "read-back seqs", sorted(r["seq"] for r in rows), list(range(first, last + 1))
        )
        for r in rows:
            want = (
                gen.payload(self.seed, r["seq"], self.payload_bytes)
                if r["seq"] % self.payload_every == 0
                else None
            )
            got = bytes(r["payload"]) if r["payload"] is not None else None
            if got != want:
                failures.append(f"read-back payload of seq {r['seq']} differs")
        return failures

    def check_store(self, path: str, blob_dir: str | None, acked: list[str]) -> list[str]:
        """A freshly opened store holds exactly the acknowledged ids."""
        from topic_store_spark.filesystem import ParquetStorage

        fresh = ParquetStorage(self.spark, path)
        failures = compare("estimated count", fresh.count(estimate=True), len(acked))
        ids = sorted(r["_id"] for r in fresh.to_df().select("_id").collect())
        failures += compare("stored id set", ids, sorted(acked))
        if blob_dir:
            blobs = len([n for n in os.listdir(blob_dir) if n.endswith(".bin")])
            n_payload = math.ceil(len(acked) / self.payload_every)
            failures += compare("blob files", blobs, n_payload)
        return failures

    def check_clone(self, src, replica, acked: list[str]) -> list[str]:
        from topic_store_spark import convert

        replica.write_df(src.to_df().filter("seq % 2 = 0"))
        half = len(acked[::2])
        result = convert.clone_incremental(src, replica)
        self.clone_result = result
        failures = compare(
            "clone counts",
            (result["copied"], result["skipped_duplicates"]),
            (len(acked) - half, half),
        )
        ids = sorted(r["_id"] for r in replica.to_df().select("_id").collect())
        return failures + compare("replica id set", ids, sorted(acked))

    def clone_op(self) -> Op:
        replica = self._store("replica", blobs=False)
        return Op(
            "clone",
            "clone_incremental",
            lambda: self.check_clone(self.store, replica, self.acked),
            lambda failures: failures,
        )

    def finish(self) -> tuple[int, list[str]]:
        return 1, self.check_store(self.store.path, self.store.blob_dir, self.acked)

    def storage_stats(self) -> dict[str, float]:
        """Of the growing store."""
        blob_dir = self.store.blob_dir
        blob_files = [os.path.join(blob_dir, n) for n in os.listdir(blob_dir)] if os.path.isdir(blob_dir) else []
        blob_bytes = sum(os.path.getsize(p) for p in blob_files)
        return {
            "part_files": len(part_files(self.store.path)),
            "bytes_per_doc_byte": (dir_bytes(self.store.path) + blob_bytes) / max(1, self.doc_bytes),
            "blobs": len(blob_files),
            "blob_bytes": blob_bytes,
        }


class Store:
    """Closed loop, one client: a robot's store in use.  Each cycle runs
    every ``DocQuery`` instance once on the fixed store, with the
    ``Ingest`` cycle's batches spread between them and its read-back
    last; the clone follows the loop."""

    name = "store"
    cycle_s = 7.5  # nominal seconds per cycle on a 4-core VM

    def __init__(self, spark, work: str, seed: int, prepared: dict, tracer=None):
        self.query = DocQuery(spark, work, seed, prepared, tracer)
        self.ingest = Ingest(spark, work, seed, prepared, tracer)
        self.oracle_s = 0.0

    prepare = DocQuery.prepare

    def setup(self) -> None:
        self.query.setup()
        self.ingest.setup()

    def warmup(self) -> tuple[int, list[str]]:
        checks, failures = self.query.warmup()
        more, fails = self.ingest.warmup()
        self.oracle_s = self.query.oracle_s
        return checks + more, failures + fails

    def ops(self) -> Iterator[Op]:
        for cycle in count():
            reads = self.query.cycle_ops(cycle)
            writes = self.ingest.cycle_ops(cycle)
            inserts, readback = writes[:-1], writes[-1]
            step = len(reads) // len(inserts)
            for i, op in enumerate(reads):
                yield op
                if (i + 1) % step == 0 and inserts:
                    yield inserts.pop(0)
            yield from inserts
            yield readback

    def clone_op(self) -> Op:
        return self.ingest.clone_op()

    def finish(self) -> tuple[int, list[str]]:
        self.query.finish()
        return self.ingest.finish()

    def storage_stats(self) -> dict[str, float]:
        return self.ingest.storage_stats()

    @property
    def clone_result(self) -> dict[str, int]:
        return self.ingest.clone_result


# ---------------------------------------------------------------------------
# corpus_dedup: the dedup/ANN registry queries on a generated corpus
# ---------------------------------------------------------------------------

CORPUS_QUERIES = (
    "dedup_semantic",
    "dedup_word_overlap",
    "dedup_char_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "ann_pq",
    "ann_ivf",
    "ann_lsh",
)


class CorpusDedup:
    """Batch passes: the eight registry queries, in a fixed order, each
    run to a noop sink.  The warm-up pass collects every output and
    hash-matches it against the query's ``oracle_sql()`` on DuckDB with
    ``tools/validate_contract.py``'s canonicalisation."""

    name = "corpus_dedup"
    cycle_s = 12.0  # nominal seconds per cycle on a 4-core VM

    def __init__(self, spark, work: str, seed: int, prepared: dict, tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.dir = prepared["dir"]
        self.expected = prepared["expected"]
        self.oracle_s = prepared["oracle_s"]
        self.tracer = tracer

    N_DOCS, N_VECS = 300, 300

    @classmethod
    def prepare(cls, work: str, seed: int) -> dict:
        """Write the corpus tables and hash every query's oracle answer on
        DuckDB (no Spark needed, so it overlaps start-up)."""
        import __spark_entry__ as entry

        corpus = os.path.join(work, "corpus")
        gen.write_corpus_tables(seed, corpus, cls.N_DOCS, cls.N_VECS)
        t0 = time.perf_counter()
        expected = oracle_hashes(corpus, entry.oracle_sql())
        return {
            "dir": corpus,
            "expected": expected,
            "oracle_s": time.perf_counter() - t0,
        }

    def setup(self) -> None:
        import __spark_entry__ as entry

        registry = entry.queries()
        self.queries = {q: registry[q] for q in CORPUS_QUERIES}

    def _build(self, q: str):
        if self.tracer is None:
            return self.queries[q](self.spark, self.dir)
        with self.tracer.span(f"operators.{q}.build"):
            return self.queries[q](self.spark, self.dir)

    def warmup(self) -> tuple[int, list[str]]:
        from validate_contract import _hash_rows

        from topic_store_spark.operators.util import cache_scope

        failures = []
        for q in CORPUS_QUERIES:
            try:
                with cache_scope():
                    sdf = self._build(q)
                    got = (sorted(sdf.columns), _hash_rows(list(sdf.columns), [tuple(r) for r in sdf.collect()]))
                failures += compare(f"oracle {q}", got, self.expected[q])
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                failures.append(f"{q}: {exc!r}"[:300])
        return len(CORPUS_QUERIES), failures

    def ops(self) -> Iterator[Op]:
        for cycle in count():
            for q in CORPUS_QUERIES:
                yield Op(q, q, lambda q=q: self._run_to_sink(q), lambda _: [], cycle)

    def _run_to_sink(self, q: str) -> None:
        from topic_store_spark.operators.util import cache_scope

        with cache_scope():
            self._build(q).write.format("noop").mode("overwrite").save()

    def finish(self) -> tuple[int, list[str]]:
        return 0, []

    def storage_stats(self) -> dict[str, float]:
        return {"part_files": 0, "bytes_per_doc_byte": 0.0}


def oracle_hashes(corpus: str, oracles: dict[str, str]) -> dict[str, Any]:
    """(sorted columns, (rows, hash)) of each corpus query's DuckDB
    oracle, hashed by ``tools/validate_contract.py``'s canonicalisation;
    an oracle error is kept as its message (and fails the check)."""
    import duckdb
    from validate_contract import _hash_rows

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        out: dict[str, Any] = {}
        for q in CORPUS_QUERIES:
            try:
                res = con.execute(oracles[q])
                cols = [d[0] for d in res.description]
                out[q] = (sorted(cols), _hash_rows(cols, res.fetchall()))
            except duckdb.Error as exc:
                out[q] = f"oracle error: {exc}"
        return out
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (Store, CorpusDedup)}
