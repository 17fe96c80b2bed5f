"""Content-addressed artifact cache (SURVEY §2.10, §4.3).

Re-expresses the reference's core mechanism — artifacts identified by
definition-hash + dependency-hash, skipped when already materialized
(pipetree's incremental recomputation, SURVEY §1.1 [PK]) — on Spark:

- artifact  = parquet snapshot at ``<root>/<stage>/<key>/`` plus a
              ``_pipetree.json`` manifest (schema + digest) written
              after the parquet files; the manifest is the commit marker
- key       = sha256 over (canonical stage spec JSON, upstream
              identities, format version). A materialized upstream's
              identity is its artifact DIGEST, so a consumer's key moves
              only when its inputs' content does (early cutoff)
- digest    = sha256 over (schema JSON, row count, two order-free sums
              of salted row hashes; the second hashes array and struct
              columns as JSON, so element boundaries and nested nulls
              count), measured by an ``Observation`` on the write
              itself — no extra Spark job. Frames with map or
              variant columns (``xxhash64`` rejects both) take their key
              as digest: correct, but no cutoff past them
- hit       = manifest exists → ``spark.read.schema(<recorded>).parquet``
              (no schema-inference job; cuts the Spark lineage exactly
              like the reference's skip)
- miss      = compute the stage DataFrame, write parquet + manifest,
              read back

Paths go through the Hadoop FileSystem API, so ``file://`` and
``s3a://`` roots use the same code (the reference's local vs S3
artifact backends are a config switch here)."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType, VariantType

from pipetree_spark.jvm import hadoop_fs

_FORMAT_VERSION = "2"
_MANIFEST = "_pipetree.json"

#: per-(process, namespace) private artifact roots — see process_cache_root
_process_cache_roots: dict[str, str] = {}


def process_cache_root(namespace: str) -> str:
    """Per-PROCESS private artifact root for the declared cache-walk
    queries (r15): ``mkdtemp`` once per (process, namespace), removed at
    interpreter exit.

    The previous fixed ``/tmp/pipetree_spark_<ns>_artifacts`` paths let
    artifacts persist ACROSS bench/oracle invocations, so a fresh run's
    warm-up could skip even the cold walk — timing a read of last run's
    outputs instead of ever computing from the parquet inputs. A
    per-process root keeps the certified skip-if-cached semantics (the
    warm-up rep pays the cold materialization, later reps in the same
    process hit), guarantees every invocation computes from the inputs,
    and closes the predictable-name /tmp squat the same way
    q_pipe_timetravel's scratch root does (unpredictable name, 0700).
    """
    root = _process_cache_roots.get(namespace)
    import os as _os

    if root is None or not _os.path.isdir(root):
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix=f"pipetree_{namespace}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _process_cache_roots[namespace] = root
    return root


def content_key(spec: dict, upstream_keys: list[str]) -> str:
    """sha256(definition ⊕ dependencies): canonical-JSON the stage spec
    (definition hash) and fold in the upstream identities (dependency
    hash: artifact digests for materialized upstreams, keys otherwise)."""
    payload = json.dumps(
        {"spec": spec, "upstream": list(upstream_keys), "v": _FORMAT_VERSION},
        sort_keys=True,
        separators=(",", ":"),
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


def _written(dt: DataType) -> DataType:
    """``dt`` as a parquet write records it: every field, array element
    and map value nullable — what schema inference would read back."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _written(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_written(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_written(dt.keyType), _written(dt.valueType), True)
    return dt


def _hashable(dt: DataType) -> bool:
    """False when ``xxhash64`` rejects ``dt`` somewhere inside it."""
    if isinstance(dt, (MapType, VariantType)):
        return False
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    return True


#: ``to_json`` options for the second hash: keep null struct fields and
#: microsecond timestamps, which the defaults drop
_JSON_OPTS = (
    "map('ignoreNullFields', 'false',"
    " 'timestampFormat', 'yyyy-MM-dd\\'T\\'HH:mm:ss.SSSSSSXXX',"
    " 'timestampNTZFormat', 'yyyy-MM-dd\\'T\\'HH:mm:ss.SSSSSS')"
)


def _digest_expr(schema: StructType):
    """Row count and two order-free sums of salted row hashes, as ONE
    parsed SQL string (a Column-built tree costs an RPC per node).

    ``xxhash64`` skips nulls and chains array and struct elements with
    no boundaries, so ``[1, NULL]`` / ``[NULL, 1]``, ``[[1], [2]]`` /
    ``[[1, 2]]`` and ``(a=[1, 2], b=[])`` / ``(a=[1], b=[2])`` hash
    alike. The second hash therefore takes each array or struct column
    as ``to_json`` (boundaries and nulls spelled out) and folds in each
    top-level column's null flag (``(NULL, 5)`` vs ``(5, NULL)``)."""
    terms = []
    for f in schema.fields:
        c = "`" + f.name.replace("`", "``") + "`"
        nested = isinstance(f.dataType, (ArrayType, StructType))
        terms.append(f", {f'to_json({c}, {_JSON_OPTS})' if nested else c}, isnull({c})")
    return F.expr(
        "concat_ws(',', count(1),"
        " sum(CAST(xxhash64(11, *) AS DECIMAL(38,0))),"
        f" sum(CAST(xxhash64(23{''.join(terms)}) AS DECIMAL(38,0)))) AS d"
    )


class ArtifactCache:
    """Durable, content-addressed materialization layer."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def path(self, stage: str, key: str) -> str:
        return f"{self.root}/{stage}/{key}"

    def has(self, spark: SparkSession, stage: str, key: str) -> bool:
        fs, marker = hadoop_fs(spark, f"{self.path(stage, key)}/{_MANIFEST}")
        return bool(fs.exists(marker))

    def manifest(self, spark: SparkSession, stage: str, key: str) -> dict:
        """The artifact's recorded ``{"schema", "digest"}``. The digest is
        its content identity: equal for the same rows in any order or
        partitioning, different when a value changes."""
        fs, jpath = hadoop_fs(spark, f"{self.path(stage, key)}/{_MANIFEST}")
        stream = fs.open(jpath)
        try:
            return json.loads(bytes(stream.readAllBytes()).decode())
        finally:
            stream.close()

    def load(
        self, spark: SparkSession, stage: str, key: str, manifest: dict | None = None
    ) -> DataFrame:
        """Read the artifact with its recorded schema — no inference job.
        Pass ``manifest`` when it has been read already."""
        schema = StructType.fromJson((manifest or self.manifest(spark, stage, key))["schema"])
        return spark.read.schema(schema).parquet(self.path(stage, key))

    def materialize(
        self,
        spark: SparkSession,
        df: DataFrame,
        stage: str,
        key: str,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        """Write the stage output as the artifact and return a frame that
        READS it (lineage cut — downstream stages never recompute this).

        The write carries an ``Observation`` whose aggregates become the
        artifact's digest; the manifest holding it and the schema is
        written last, so an interrupted write leaves no hit behind.

        ``bucket_by=(n, cols)`` (optionally with ``sort_by``) writes a
        bucketed table instead: every downstream equi-join or aggregate
        on the bucket columns is SHUFFLE-FREE (Spark reads the bucket
        spec from the catalog and plans a zero-exchange sort-merge join).
        This is the 100 TB recipe for repeated fact⋈fact joins — pay the
        shuffle once at materialization, never again."""
        if bucket_by is not None:
            n, cols = bucket_by
            writer = df.write.mode("overwrite").bucketBy(n, *cols)
            if sort_by:
                writer = writer.sortBy(*sort_by)
            table = self.table_name(stage, key)
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            writer.option("path", self.path(stage, key)).format("parquet").saveAsTable(table)
            return spark.table(table)
        path = self.path(stage, key)
        schema = _written(df.schema)
        obs = Observation() if _hashable(schema) else None
        (df if obs is None else df.observe(obs, _digest_expr(schema))).write.mode(
            "overwrite"
        ).parquet(path)
        digest = key
        if obs is not None:
            payload = f"{schema.json()}\x00{obs.get['d']}"
            digest = hashlib.sha256(payload.encode()).hexdigest()[:32]
        manifest = {"schema": schema.jsonValue(), "digest": digest}
        fs, jpath = hadoop_fs(spark, f"{path}/{_MANIFEST}")
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(json.dumps(manifest).encode()))
        finally:
            out.close()
        return self.load(spark, stage, key, manifest)

    @staticmethod
    def table_name(stage: str, key: str) -> str:
        """Catalog identifier for a bucketed artifact (bucket specs live
        in the table catalog, not in parquet footers)."""
        return f"cache_{stage}_{key}".replace("-", "_")

    def load_bucketed(self, spark: SparkSession, stage: str, key: str) -> DataFrame:
        """Cache-hit path for bucketed artifacts: reads via the catalog
        (a plain ``read.parquet`` would drop the bucket spec and
        re-shuffle downstream)."""
        return spark.table(self.table_name(stage, key))
