"""WebDataset-style tar-shard source/sink.

The de-facto interchange layout for multimodal LLM training corpora is a
directory of tar shards whose members pair up by basename key —
``{key}.txt`` carries the payload, ``{key}.json`` the per-sample metadata
(images/audio would be further ``{key}.jpg``/``{key}.flac`` members; here
the corpus is text, but the pairing kernel is modality-agnostic).  Spark
has no tar codec, so both directions run as Arrow-batched ``mapInPandas``
kernels over ``binaryFile`` rows — the same per-file justification as the
multimodal decoders (multimodal/columns.py): the unit of work is a FILE,
not a row, and payload bytes never leave the executors.

Scale shape: shards write one-per-partition (embarrassingly parallel, no
shuffle beyond the explicit repartition that sets the shard count), and
reads parallelize per shard file.  At 100 TB this is exactly how
WebDataset corpora are produced and consumed; shard size is controlled by
the partition count.

Reference analogue: the reference's one-instrument-run → one-parquet-file
discipline (faa_mcc_parser.py:208-212) applied to the training-data
interchange format instead.
"""

from __future__ import annotations

import io
import json
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession


def write_webdataset(docs: DataFrame, out_dir: str, n_shards: int = 8) -> int:
    """Write ``docs`` (doc_id, source, lang, n_chars, text) as ``n_shards``
    tar shards of paired ``{doc_id}.txt`` + ``{doc_id}.json`` members.
    Returns the number of members written (2 per doc)."""

    os.makedirs(out_dir, exist_ok=True)

    def shard_writer(pdfs):
        import pandas as pd
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId()
        path = os.path.join(out_dir, f"shard-{pid:05d}.tar")
        # Task-attempt-unique temp + atomic rename: a failed, retried, or
        # speculative task must never leave a torn/concurrently-rewritten
        # shard visible at the final name (same publish discipline as
        # operators/commitlog.py's manifest commit).
        tmp = f"{path}.attempt-{tc.taskAttemptId()}.tmp"
        n = 0
        with tarfile.open(tmp, "w") as tf:
            for pdf in pdfs:
                for row in pdf.itertuples(index=False):
                    key = str(row.doc_id)
                    payload = row.text.encode("utf-8")
                    meta = json.dumps(
                        {
                            "source": row.source,
                            "lang": row.lang,
                            "n_chars": int(row.n_chars),
                        },
                        sort_keys=True,
                    ).encode("utf-8")
                    for name, data in (
                        (f"{key}.txt", payload),
                        (f"{key}.json", meta),
                    ):
                        ti = tarfile.TarInfo(name)
                        ti.size = len(data)
                        ti.mtime = 0  # deterministic shard bytes
                        tf.addfile(ti, io.BytesIO(data))
                        n += 1
        os.replace(tmp, path)  # atomic publish
        yield pd.DataFrame({"shard": [path], "n_members": [n]})

    counts = (
        docs.select("doc_id", "source", "lang", "n_chars", "text")
        .repartition(n_shards, "doc_id")
        .mapInPandas(shard_writer, "shard string, n_members long")
        .collect()  # one row per shard — never data-sized
    )
    return sum(r["n_members"] for r in counts)


def read_webdataset(spark: SparkSession, in_dir: str) -> DataFrame:
    """Scan a directory of WebDataset tar shards back into rows, pairing
    each ``{key}.txt`` with its ``{key}.json`` sidecar inside the shard.
    Members missing either half are dropped (the WebDataset convention:
    an incomplete sample is skipped, not an error)."""

    def shard_reader(pdfs):
        import pandas as pd

        for pdf in pdfs:
            out = {
                "doc_id": [],
                "source": [],
                "lang": [],
                "n_chars": [],
                "text": [],
            }
            for content in pdf["content"]:
                samples: dict[str, dict] = {}
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                    for m in tf.getmembers():
                        if not m.isfile():
                            continue
                        key, dot, ext = m.name.rpartition(".")
                        if not dot or ext not in ("txt", "json"):
                            continue
                        samples.setdefault(key, {})[ext] = (
                            tf.extractfile(m).read()
                        )
                for key, parts in samples.items():
                    if "txt" not in parts or "json" not in parts:
                        continue
                    meta = json.loads(parts["json"].decode("utf-8"))
                    out["doc_id"].append(int(key))
                    out["source"].append(meta["source"])
                    out["lang"].append(meta["lang"])
                    out["n_chars"].append(int(meta["n_chars"]))
                    out["text"].append(parts["txt"].decode("utf-8"))
            yield pd.DataFrame(out)

    bf = spark.read.format("binaryFile").load(os.path.join(in_dir, "*.tar"))
    return bf.select("content").mapInPandas(
        shard_reader,
        "doc_id bigint, source string, lang string, n_chars bigint,"
        " text string",
    )


# ---------------------------------------------------------------------------
# First-class connector: spark.read.format("webdataset")
# ---------------------------------------------------------------------------

try:  # Python DataSource API (Spark >= 4.0)
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _ShardPartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class WebDatasetReader(DataSourceReader):
        """One input partition per tar shard — the natural parallelism of
        the format (a 100 TB corpus is O(10^5) shards; each task streams
        one shard's members without touching the others)."""

        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("webdataset: .load(<shard dir>) required")

        def partitions(self):
            import glob

            shards = sorted(glob.glob(os.path.join(self.path, "*.tar")))
            if not shards:
                raise FileNotFoundError(
                    f"webdataset: no *.tar shards under {self.path}"
                )
            return [_ShardPartition(p) for p in shards]

        def read(self, partition):
            with tarfile.open(partition.path) as tf:
                samples: dict[str, dict] = {}
                for m in tf.getmembers():
                    if not m.isfile():
                        continue
                    key, dot, ext = m.name.rpartition(".")
                    if not dot or ext not in ("txt", "json"):
                        continue
                    samples.setdefault(key, {})[ext] = (
                        tf.extractfile(m).read()
                    )
            for key, parts in samples.items():
                if "txt" not in parts or "json" not in parts:
                    continue  # WebDataset convention: skip incomplete
                meta = json.loads(parts["json"].decode("utf-8"))
                yield (
                    int(key),
                    meta["source"],
                    meta["lang"],
                    int(meta["n_chars"]),
                    parts["txt"].decode("utf-8"),
                )

    from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

    class _ShardCommit(WriterCommitMessage):
        def __init__(self, tmp_path: str, final_path: str, n_members: int):
            self.tmp_path = tmp_path
            self.final_path = final_path
            self.n_members = n_members

    class WebDatasetWriter(DataSourceWriter):
        """One tar shard per input partition, published with the standard
        two-phase protocol: each task streams its tar to a
        task-attempt-unique ``*.tmp`` name and reports it in its commit
        message; the driver's :meth:`commit` renames exactly the winning
        attempts to their final ``shard-{pid}.tar`` names and sweeps any
        losers, and :meth:`abort` deletes all temp files.  A failed,
        retried, or speculative task therefore never leaves a torn or
        concurrently-rewritten shard visible to readers (rename is atomic
        on POSIX/HDFS; on object stores pair this with a rename-capable
        committer, as with any file sink)."""

        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("webdataset: .save(<shard dir>) required")
            os.makedirs(self.path, exist_ok=True)

        def write(self, rows):
            from pyspark import TaskContext

            tc = TaskContext.get()
            final = os.path.join(
                self.path, f"shard-{tc.partitionId():05d}.tar"
            )
            tmp = f"{final}.attempt-{tc.taskAttemptId()}.tmp"
            n = 0
            with tarfile.open(tmp, "w") as tf:
                for row in rows:
                    key = str(row.doc_id)
                    payload = row.text.encode("utf-8")
                    meta = json.dumps(
                        {
                            "source": row.source,
                            "lang": row.lang,
                            "n_chars": int(row.n_chars),
                        },
                        sort_keys=True,
                    ).encode("utf-8")
                    for name, data in (
                        (f"{key}.txt", payload),
                        (f"{key}.json", meta),
                    ):
                        ti = tarfile.TarInfo(name)
                        ti.size = len(data)
                        ti.mtime = 0
                        tf.addfile(ti, io.BytesIO(data))
                        n += 1
            return _ShardCommit(tmp, final, n)

        def commit(self, messages):
            import glob as _glob

            for m in messages:
                os.replace(m.tmp_path, m.final_path)  # atomic publish
            # sweep losing attempts (task retries / speculative dupes)
            for stray in _glob.glob(
                os.path.join(self.path, "shard-*.tar.attempt-*.tmp")
            ):
                try:
                    os.remove(stray)
                except FileNotFoundError:
                    pass  # a concurrent commit/abort swept it first

        def abort(self, messages):
            import glob as _glob

            for m in messages:
                try:
                    os.remove(m.tmp_path)
                except FileNotFoundError:
                    pass  # already published or swept
            # messages only cover tasks that RETURNED a commit message;
            # attempts that died mid-write (and zombie/speculative
            # attempts finishing later) leave *.attempt-*.tmp strays —
            # sweep them like commit() does so retried jobs don't
            # accumulate unbounded litter (readers glob *.tar, so strays
            # are invisible to them, but not free on disk).
            for stray in _glob.glob(
                os.path.join(self.path, "shard-*.tar.attempt-*.tmp")
            ):
                try:
                    os.remove(stray)
                except FileNotFoundError:
                    pass  # a concurrent commit/abort swept it first

    class WebDatasetDataSource(DataSource):
        """``spark.read.format("webdataset").load(dir)`` and
        ``df.write.format("webdataset").save(dir)`` — the paired-member
        tar-shard layout as a first-class Spark connector (Python
        DataSource API, Spark 4), sharing the member-pairing rules with
        :func:`read_webdataset`/:func:`write_webdataset`."""

        @classmethod
        def name(cls) -> str:
            return "webdataset"

        def schema(self) -> str:
            return (
                "doc_id bigint, source string, lang string,"
                " n_chars bigint, text string"
            )

        def reader(self, schema):
            return WebDatasetReader(self.options)

        def writer(self, schema, overwrite: bool):
            return WebDatasetWriter(self.options)

    def register_webdataset_source(spark: SparkSession) -> None:
        """Idempotently register the connector on a session."""
        spark.dataSource.register(WebDatasetDataSource)

except ImportError:  # pragma: no cover — pre-4.0 PySpark
    WebDatasetDataSource = None  # type: ignore[assignment]

    def register_webdataset_source(spark: SparkSession) -> None:
        raise NotImplementedError(
            "Python DataSource API requires PySpark >= 4.0"
        )
