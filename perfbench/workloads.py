"""The benchmark workloads.

Each workload builds its inputs from the seed (through a content-keyed
cache), runs one closed-loop batch job at a time, and checks every
job's committed output.  The program only ever sees the generated
inputs: the seed picks which synth turn ids, conversations or
documents go in, never how the program runs.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from vision_parse_spark import ExtractConfig, extract, extract_pandas
from vision_parse_spark.sinks.merge import (
    merge_upsert,
    merge_write,
    read_merged,
    verify_lineage,
)
from vision_parse_spark.sources.readers import read_transcripts
from vision_parse_spark.synth import CONV_LEN_PATTERN, gen_payloads

from tools.check_oracle import value_hash

# one synth period: the conversation-length pattern repeats every 264
# turns, so whole periods keep the conversation shape seed-independent
PERIOD = int(CONV_LEN_PATTERN.sum())
# seed s reads synth ids from (1 + s % SEED_SLOTS) * SEED_STRIDE on; the
# stride is wider than any workload's id range, and ids below it hold the
# goldens.  synth.py writes conv ids with 6 digits and truncates longer
# ones, so ids past 10**6 conversations would repeat keys: seeds wrap
# before that.
SEED_STRIDE = 160 * PERIOD
SEED_SLOTS = 10**6 // len(CONV_LEN_PATTERN) * PERIOD // SEED_STRIDE - 2
N_GOLDEN = 160
N_BUCKETS = 16  # merge_write's default bucket count
SINK_COLS = ["conv_id", "turn_idx", "payload_kind", "markdown", "status",
             "error"]
EXTRACT_CFG = ExtractConfig(image_mode="url")
SAMPLE_ROWS = 16
CACHE_KEEP = 4  # newest cache entries kept per kind

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def source_hash(root: str, *rel: str) -> str:
    """sha256 over the bytes of the named files, or of every .py file
    under the named directories, so a cache keyed on it goes stale with
    the code that made it."""
    h = hashlib.sha256()
    for r in rel:
        p = os.path.join(root, r)
        files = ([p] if os.path.isfile(p) else sorted(
            glob.glob(os.path.join(p, "**", "*.py"), recursive=True)))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(work: str, kind: str, key: dict, build) -> str:
    """Directory holding ``build(dir)``'s output for ``key``.

    The key is stored beside the data and compared on every use, and
    the directory only appears (atomic rename) once ``build`` returned,
    so a partial or stale entry is never read."""
    digest = hashlib.sha256(
        json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    root = os.path.join(work, "cache")
    path = os.path.join(root, f"{kind}-{digest}")
    key_file = os.path.join(path, "_KEY.json")
    if os.path.exists(key_file):
        with open(key_file) as f:
            if json.load(f) == key:
                os.utime(path)
                return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_KEY.json"), "w") as f:
        json.dump(key, f, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    entries = sorted(
        (p for p in glob.glob(os.path.join(root, f"{kind}-*"))
         if ".tmp" not in p and p != path),
        key=os.path.getmtime)
    for old in entries[:max(len(entries) - (CACHE_KEEP - 1), 0)]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def write_transcripts(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    pdf = pdf.assign(ts=pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC"))
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[part], schema=TRANSCRIPT_ARROW,
                                 preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"))


def read_parquet_dir(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    nproc: int

    @property
    def id_start(self) -> int:
        return (1 + self.seed % SEED_SLOTS) * SEED_STRIDE


@dataclass
class Check:
    problems: list = field(default_factory=list)
    error_rows: int = 0


class Workload:
    """One workload: ``prepare`` and ``warm_jobs`` calls of ``warm_up``
    are set-up, ``expect`` builds the check's reference outside the
    timing, ``run_job`` is the timed batch job and ``check`` audits its
    committed output."""

    name = ""
    unit = "rows"
    # untimed jobs before timing: the first job of a JVM takes 2-3x the
    # time of later ones, the second still up to 20% more CPU
    warm_jobs = 2
    kernel_input: str | None = None  # transcripts the extract kernel saw

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.synth_key = source_hash(ctx.root, "vision_parse_spark/synth.py",
                                     "vision_parse_spark/functions/pdf.py")

    def out_path(self, k) -> str:
        return os.path.join(self.ctx.work, "out", self.name, f"job{k}")

    def input_dirs(self) -> list[str]:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def expect(self, spark) -> None:
        raise NotImplementedError

    def run_job(self, spark, k) -> int:
        """Run job ``k``; returns the input rows it carried."""
        raise NotImplementedError

    def check(self, spark, k, audit: bool) -> Check:
        """Check job ``k``'s committed output; ``audit`` adds the
        lineage audit (``verify_lineage``), which re-reads every bucket
        and so runs on one job per run."""
        raise NotImplementedError

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(self.ctx.work, "out", self.name),
                      ignore_errors=True)



def extract_job(spark, inp: str, out: str, run_id: str) -> dict:
    """tools/run_extract_job.py: read -> extract -> merge_write."""
    df = read_transcripts(spark, inp)
    return merge_write(extract(df, EXTRACT_CFG).select(*SINK_COLS), out,
                       run_id=run_id, n_buckets=N_BUCKETS)


def load_goldens(root: str) -> dict:
    out = {}
    for f in glob.glob(os.path.join(root, "tests", "golden", "*.md")):
        conv_id, turn = os.path.basename(f)[:-3].rsplit("_", 1)
        with open(f, encoding="utf-8", newline="") as fh:
            out[(conv_id, int(turn))] = fh.read()
    if len(out) != N_GOLDEN:
        raise RuntimeError(f"expected {N_GOLDEN} goldens, found {len(out)}")
    return out


def read_output(spark, path: str) -> pd.DataFrame:
    return (read_merged(spark, path)
            .select("conv_id", "turn_idx", "markdown", "status")
            .toPandas())


def keyed(df: pd.DataFrame) -> dict:
    return dict(zip(zip(df["conv_id"], df["turn_idx"].astype(int)),
                    df["markdown"]))


class ExtractWorkload(Workload):
    """The production extract job over seeded synth-v4 turns of every
    payload kind plus the committed golden turns."""

    name = "extract_mix"
    PERIODS = 14

    def input_dirs(self):
        return [self.input]

    def _build(self, path: str) -> None:
        ids = np.arange(self.ctx.id_start,
                        self.ctx.id_start + self.PERIODS * PERIOD)
        pdf = pd.concat([gen_payloads(np.arange(N_GOLDEN)), gen_payloads(ids)],
                        ignore_index=True)
        write_transcripts(pdf, path, 4 * self.ctx.nproc)

    def prepare(self, spark):
        self.input = cached(self.ctx.work, self.name, {
            "seed": self.ctx.seed, "periods": self.PERIODS,
            "synth": self.synth_key,
            "files": 4 * self.ctx.nproc}, self._build)
        self.kernel_input = self.input
        self.rows = parquet_rows(self.input)

    def warm_up(self, spark):
        """One untimed job on the same input."""
        out = self.out_path("warm")
        shutil.rmtree(out, ignore_errors=True)
        extract_job(spark, self.input, out, "warm")
        shutil.rmtree(out, ignore_errors=True)

    def expect(self, spark):
        pdf = read_parquet_dir(self.input)
        present = set(zip(pdf["conv_id"], pdf["turn_idx"].astype(int)))
        self.goldens = {k: v for k, v in load_goldens(self.ctx.root).items()
                        if k in present}
        # a seeded sample, each row extracted alone: the batch a row
        # lands in must not change its output
        rng = np.random.default_rng(self.ctx.seed)
        self.sample = {}
        for p in rng.choice(len(pdf), min(SAMPLE_ROWS, len(pdf)), replace=False):
            row = pdf.iloc[[p]].reset_index(drop=True)
            key = (row["conv_id"].iloc[0], int(row["turn_idx"].iloc[0]))
            self.sample[key] = extract_pandas(row, EXTRACT_CFG)["markdown"].iloc[0]

    def run_job(self, spark, k):
        extract_job(spark, self.input, self.out_path(k), f"job{k}")
        return self.rows

    def sink_call(self, spark, k):
        """The sink alone: merge_write job ``k``'s committed rows anew."""
        src = read_merged(spark, self.out_path(k)).drop("bucket")
        return lambda: merge_write(src, self.out_path("sink"), run_id="sink",
                                   n_buckets=N_BUCKETS)

    def upsert_call(self, spark, k):
        """merge_upsert alone, as in a formatter-fix rerun: the rows of a
        seeded quarter of the conversations, already extracted, upserted
        into a copy of job ``k``'s table.  Returns the call and the
        number of rows it upserts."""
        from pyspark.sql import functions as F

        target = self.out_path("upsert")
        shutil.rmtree(target, ignore_errors=True)
        shutil.copytree(self.out_path(k), target)
        rows = read_merged(spark, self.out_path(k)).drop("bucket")
        convs = sorted(r[0] for r in rows.select("conv_id").distinct().collect())
        rng = np.random.default_rng(self.ctx.seed)
        redo = rng.choice(convs, max(len(convs) // 4, 1), replace=False)
        src = rows.filter(F.col("conv_id").isin([str(c) for c in redo]))
        src = src.localCheckpoint(eager=True)
        return (lambda: merge_upsert(src, target, run_id="upsert",
                                     n_buckets=N_BUCKETS)), src.count()

    def check(self, spark, k, audit):
        c = Check()
        out = self.out_path(k)
        got = read_output(spark, out)
        if len(got) != self.rows:
            c.problems.append(f"{len(got)} output rows for {self.rows} input rows")
        dups = int(got.duplicated(["conv_id", "turn_idx"]).sum())
        if dups:
            c.problems.append(f"{dups} duplicated keys")
        if audit and not verify_lineage(spark, out):
            c.problems.append("verify_lineage is false")
        md = keyed(got)
        for what, want in (("golden", self.goldens), ("one-row sample", self.sample)):
            bad = sorted(k for k, v in want.items() if md.get(k) != v)
            if bad:
                c.problems.append(f"{len(bad)}/{len(want)} {what} turns differ, "
                                  f"first {bad[0]}")
        c.error_rows = int((got["status"] == "error").sum())
        return c


class CurateWorkload(Workload):
    """curate_full over a seeded subset of the committed sf0.1 documents
    and embeddings, eval split ``doc_id % 10 == 0`` as in the contract
    query; checked against DuckDB's replay of its oracle SQL."""

    name = "curate_full"
    unit = "docs"
    DOCS = 1500
    DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.results = {}

    def input_dirs(self):
        return [self.docs, self.embs]

    def _build(self, path: str) -> None:
        import pyarrow.compute as pc

        docs = pq.read_table(os.path.join(self.DATA, "documents.parquet"))
        embs = pq.read_table(os.path.join(self.DATA, "embeddings.parquet"))
        rng = np.random.default_rng(self.ctx.seed)
        ids = np.sort(rng.choice(docs["doc_id"].to_numpy(), self.DOCS,
                                 replace=False))
        docs = docs.filter(pc.is_in(docs["doc_id"], pa.array(ids)))
        embs = embs.filter(pc.is_in(embs["vec_id"], pa.array(ids)))
        os.makedirs(os.path.join(path, "documents"))
        os.makedirs(os.path.join(path, "embeddings"))
        for i, part in enumerate(np.array_split(np.arange(docs.num_rows),
                                                self.ctx.nproc)):
            pq.write_table(docs.take(pa.array(part)), os.path.join(
                path, "documents", f"part-{i:05d}.parquet"))
        pq.write_table(embs, os.path.join(path, "embeddings",
                                          "part-00000.parquet"))
        with open(os.path.join(path, "oracle.json"), "w") as f:
            json.dump({"value_hash": oracle_hash(
                self.ctx.work, os.path.join(path, "documents"),
                os.path.join(path, "embeddings"))}, f)

    def prepare(self, spark):
        data_key = source_hash(self.ctx.root, "perfbench/data/documents.parquet",
                               "perfbench/data/embeddings.parquet")
        sub = cached(self.ctx.work, self.name, {
            "seed": self.ctx.seed, "docs": self.DOCS, "data": data_key,
            "oracle": source_hash(self.ctx.root, "__spark_entry__.py"),
            "files": self.ctx.nproc}, self._build)
        self.docs = os.path.join(sub, "documents")
        self.embs = os.path.join(sub, "embeddings")
        with open(os.path.join(sub, "oracle.json")) as f:
            self.oracle = json.load(f)["value_hash"]
        self.rows = parquet_rows(self.docs)

    def curate(self, spark) -> pd.DataFrame:
        from pyspark.sql import functions as F

        from vision_parse_spark.operators.curation import curate_full

        d = spark.read.parquet(self.docs).select("doc_id", "text")
        out = curate_full(d.filter("doc_id % 10 != 0"),
                          d.filter("doc_id % 10 = 0"),
                          spark.read.parquet(self.embs))
        return out.select("doc_id",
                          F.md5("text").alias("scrubbed_md5")).toPandas()

    def warm_up(self, spark):
        self.curate(spark)

    def expect(self, spark):
        """The reference is the oracle hash, built with the input."""

    def run_job(self, spark, k):
        self.results[k] = self.curate(spark)
        return self.rows

    def check(self, spark, k, audit):
        c = Check()
        if value_hash(self.results.pop(k)) != self.oracle:
            c.problems.append("value hash differs from the DuckDB oracle")
        return c


def split_ctes(sql: str) -> tuple[list, str]:
    """(name, body) of each top-level CTE of ``WITH ... SELECT``, plus
    the final SELECT."""
    s = sql.strip()
    i = re.match(r"(?is)WITH\s+(RECURSIVE\s+)?", s).end()
    head = re.compile(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", re.S)
    ctes = []
    while (m := head.match(s, i)):
        depth, k = 1, m.end()
        while depth:
            ch = s[k]
            if ch == "'":
                k = s.index("'", k + 1)
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            k += 1
        ctes.append((m.group(1), s[m.end():k - 1]))
        comma = re.compile(r"\s*,").match(s, k)
        i = comma.end() if comma else k
        if not comma:
            break
    return ctes, s[i:]


def oracle_hash(work: str, docs: str, embs: str) -> str:
    """Value hash of DuckDB's replay of ``oracle_sql()["curate_full"]``.

    Each CTE is materialized as a table in order: the same SQL, but
    DuckDB evaluates every stage once instead of inlining the
    multiply-referenced ones (inlined, the replay exhausts memory on a
    few hundred documents)."""
    import duckdb

    import __spark_entry__ as entry

    tmp = os.path.join(work, "tmp", "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 2,
                                 "temp_directory": tmp})
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs}/*.parquet')")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{embs}/*.parquet')")
        ctes, final = split_ctes(entry.oracle_sql()["curate_full"])
        for name, body in ctes:
            con.execute(f"CREATE TEMP TABLE {name} AS {body}")
        return value_hash(con.execute(final).df())
    finally:
        con.close()


def make(name: str, ctx: Ctx) -> Workload:
    if name == "extract_mix":
        return ExtractWorkload(ctx)
    if name == "curate_full":
        return CurateWorkload(ctx)
    raise ValueError(f"unknown workload {name!r}")
