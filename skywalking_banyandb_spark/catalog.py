"""Schema registry — the PySpark analogue of BanyanDB's metadata registry.

The reference declares schemas first (``database/v1/schema.proto``; etcd-backed
``banyand/metadata/``) and validates every query against them at analyze time.
Here a :class:`Catalog` maps (group, resource-name) -> a resource schema that
knows its physical parquet path and its logical column roles (ts, version,
entity, element id, trace/span ids, tags, fields).

Scale note: a resource's ``paths`` may be a directory of time-bucket
partitioned parquet (``ts_bucket=YYYY-MM-DD``), which Spark partition-prunes —
the analogue of the reference's segment selection
(``banyand/internal/storage/storage.go:110-137``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, Optional, Sequence, Tuple

from .errors import SchemaError

# BanyanDB tag/field types -> Spark SQL types (SURVEY.md §1.2).
TAG_TYPE_TO_SPARK = {
    "STRING": "string",
    "INT": "bigint",
    "FLOAT": "double",
    "STRING_ARRAY": "array<string>",
    "INT_ARRAY": "array<bigint>",
    "DATA_BINARY": "binary",
    "TIMESTAMP": "timestamp",
}


@dataclass(frozen=True)
class TagSpec:
    """``database/v1/schema.proto:31-50`` TagSpec + index info.

    ``analyzer`` marks a full-text indexed tag (MATCH-able) —
    ``schema.proto:158-191`` IndexRule.analyzer.

    ``expr`` declares a DERIVED tag: a Spark-SQL expression over the
    resource's physical columns, materialized at scan time. This is the
    read-time analogue of the reference's write-time index materialization
    (e.g. an analyzed token array backing an array-typed tag like the
    conformance corpus's ``extended_tags``); at 100 TB the same expression
    becomes a generated column written at ingest. Derived tags are
    filterable/projectable like any tag but are excluded from the DEFAULT
    projection (they only appear when explicitly asked for, like index
    content in the reference).
    """

    name: str
    type: str = "STRING"
    family: str = "default"
    indexed: bool = True
    analyzer: Optional[str] = None  # standard | simple | keyword | url
    expr: Optional[str] = None      # Spark-SQL expression for derived tags


@dataclass(frozen=True)
class FieldSpec:
    """``database/v1/schema.proto:74-80`` FieldSpec (measure values).

    ``expr`` declares a DERIVED field, symmetric with ``TagSpec.expr``:
    a Spark-SQL expression over the resource's physical columns,
    materialized at scan time. Lets one physical fact table back measures
    whose schema declares several fields (e.g. the conformance corpus's
    ``service_cpm_minute`` with ``total`` + ``value``); at 100 TB the
    expression becomes a generated column written at ingest."""

    name: str
    type: str = "FLOAT"
    expr: Optional[str] = None


@dataclass(frozen=True)
class StageSpec:
    """One lifecycle stage (hot/warm/cold) of a group's data —
    ``common.proto:65-93`` LifecycleStage. The reference routes a stage to a
    node selector; here a stage owns a subset of the resource's paths (e.g.
    hot = recent ts buckets on fast storage, cold = archived buckets), which
    is the Spark-native analogue: stage selection = path-set selection, and
    partition pruning still applies within each stage."""

    name: str
    paths: Tuple[str, ...]


def materialize_derived(df, schema):
    """Materialize derived tags (``TagSpec.expr``) onto a freshly-scanned
    DataFrame — the read-time analogue of the reference's write-time index
    materialization. Runs right after the scan so criteria, projection and
    ordering all see the tag like a physical column; Catalyst still prunes
    the underlying reads to the expression's inputs."""
    from pyspark.sql import functions as F

    for t in getattr(schema, "tags", ()) or ():
        if t.expr is not None and t.name not in df.columns:
            df = df.withColumn(t.name, F.expr(t.expr))
    for f in getattr(schema, "fields", ()) or ():
        if getattr(f, "expr", None) is not None and f.name not in df.columns:
            df = df.withColumn(f.name, F.expr(f.expr))
    return df


def resolve_replica(path: str) -> str:
    """Replica selection (``common.proto:104-110`` Group.replicas; the
    ``entity_replicated`` golden case: a replicated group answers with a
    SINGLE copy). A replicated store lays byte-identical copies in
    ``replica=N`` subdirs; reads pick the lowest-numbered intact replica
    (has at least one parquet file) and fail over to the next — the Spark
    twin of the reference's ``(shard_index + replica_id) % node_count``
    routing (docs/concept/clustering.md). Non-replicated paths pass
    through untouched, so the check is one listdir per query path. At
    100 TB the reference itself delegates replication to the object store
    (clustering.md "delegates the task of replication"); this path exists
    for functional parity with replicated groups."""
    import glob

    if not os.path.isdir(path):
        return path
    reps = sorted(d for d in os.listdir(path) if d.startswith("replica="))
    if not reps:
        return path
    for d in reps:
        full = os.path.join(path, d)
        if glob.glob(os.path.join(full, "**", "*.parquet"), recursive=True):
            return full
    raise SchemaError(f"no intact replica under {path!r}")


def resolve_stage_paths(schema, stages: Sequence[str]) -> Tuple[str, ...]:
    """Stage routing (``banyand/dquery/dquery.go:161-192`` parseNodeSelector):
    empty request -> the schema's ``default_stages``; names match
    case-insensitively; unknown names are skipped; if nothing resolves the
    query is unrestricted (all paths)."""
    declared = getattr(schema, "stages", ()) or ()
    if not declared:
        return tuple(resolve_replica(p) for p in schema.paths)
    want = list(stages) or list(getattr(schema, "default_stages", ()) or ())
    if not want:
        return tuple(resolve_replica(p) for p in schema.paths)
    by_name = {s.name.lower(): s for s in declared}
    out: list = []
    for name in want:
        hit = by_name.get(name.lower())
        if hit is not None:
            out.extend(hit.paths)
    if not out:
        return tuple(resolve_replica(p) for p in schema.paths)
    # preserve order, drop duplicates (a path may belong to several stages)
    seen = set()
    uniq = [p for p in out if not (p in seen or seen.add(p))]
    return tuple(resolve_replica(p) for p in uniq)


def clamp_time_range_begin(schemas, time_range):
    """Schema-consistency time-range clamp (reference 0.11 "Phase 1",
    ``/root/reference/CHANGES.md`` 0.11; impl
    ``banyand/liaison/grpc/measure.go:459-489`` ``clampTimeRangeBegin``):
    ``begin = max(begin, max(schema.created_at across queried groups))``.
    Schemas without ``created_at`` (pre-upgrade) contribute nothing; with
    none set the range passes through untouched. A clamped begin past the
    end leaves a degenerate half-open ``[begin, end)`` with begin >= end,
    which every scan path answers with zero rows — the Spark analogue of
    the liaison's empty-response short-circuit.

    Callers gate this on ``group_mod_revisions`` being present, the same
    opt-in trigger as the revision gate: legacy clients that omit
    revisions keep the old behavior where pre-creation backfill rows are
    returned (``measure.go:459-465``)."""
    created = [s.created_at for s in schemas
               if getattr(s, "created_at", None) is not None]
    if not created or time_range is None:
        return time_range
    from .model import TimeRange

    cap = max(created)
    begin = time_range.begin
    if begin is None or begin < cap:
        return TimeRange(cap, time_range.end)
    return time_range


@dataclass(frozen=True)
class MeasureSchema:
    """A measure = numeric time series with tags+fields, upsert by version
    (``schema.proto:105-127``)."""

    group: str
    name: str
    paths: Tuple[str, ...]
    ts_column: str
    tags: Tuple[TagSpec, ...]
    fields: Tuple[FieldSpec, ...]
    entity: Tuple[str, ...]            # series identity (schema.proto:66-68)
    version_column: Optional[str] = None
    interval: Optional[str] = None     # e.g. "1 minute"
    # index_mode (schema.proto:119-121): the whole point lives in the
    # inverted index — no series/version semantics, plain scan at read time
    index_mode: bool = False
    # entity-bucketed catalog table (written by write_measure_bucketed);
    # when set, reads go through spark.table() and inherit the persisted
    # hash distribution (shuffle-free dedup/group-by) instead of paths
    table: Optional[str] = None
    # maintained _top_n_result materialization (batch materialize_topn or
    # the streaming job); when set, TopN queries route to this table
    # instead of recomputing from the source measure (topn_analyzer.go)
    topn_path: Optional[str] = None
    # lifecycle stages (ResourceOpts.stages, common.proto:65-93); see
    # resolve_stage_paths for the ON ... STAGES routing semantics
    stages: Tuple["StageSpec", ...] = ()
    default_stages: Tuple[str, ...] = ()
    # first-appearance timestamp, survives updates (reference 0.11 "Schema
    # consistency Phase 1": database/v1/schema.proto created_at). When set,
    # revision-gated queries clamp TimeRange.begin to it — see
    # clamp_time_range_begin. None (pre-upgrade schema) is a no-op.
    created_at: Optional[object] = None
    # optional separate shard-routing key (schema.proto:70-72,114); empty
    # means the entity routes shards. Spark mapping: the bucketBy keys of
    # the bucketed catalog table. Validated by
    # check_sharding_key_subset (reference 0.11).
    sharding_key: Tuple[str, ...] = ()

    kind: str = "measure"

    def tag(self, name: str) -> Optional[TagSpec]:
        for t in self.tags:
            if t.name == name:
                return t
        return None

    def field(self, name: str) -> Optional[FieldSpec]:
        for f in self.fields:
            if f.name == name:
                return f
        return None


def check_sharding_key_subset(schema: "MeasureSchema") -> Optional[str]:
    """Reference 0.11 registry validation
    (``api/validate/validate.go:226-255`` CheckShardingKeySubset): every
    sharding-key tag must exist in the entity tags AND appear in the
    same relative order — otherwise two rows of one series can route to
    different shards and entity locality breaks (for us: the bucketBy
    hash distribution would not satisfy the per-entity clustering the
    shuffle-free dedup/group-by reads rely on). A single-entity-tag
    schema is exempt: one composite tag (e.g. OAP's entity_id) may
    already encode the sharding fields, so literal subset validation
    would false-positive. Returns a warning string (the reference logs
    and continues — the schema is NOT rejected) or None when valid."""
    if not schema.sharding_key or not schema.entity:
        return None
    if len(schema.entity) == 1:
        return None
    pos = {tag: i for i, tag in enumerate(schema.entity)}
    prev = -1
    for tag in schema.sharding_key:
        if tag not in pos:
            return (f"ShardingKey tag {tag!r} is not present in Entity "
                    f"tags {list(schema.entity)}")
        if pos[tag] <= prev:
            return (f"ShardingKey {list(schema.sharding_key)} is not in "
                    f"the same relative order as Entity tags "
                    f"{list(schema.entity)}")
        prev = pos[tag]
    return None


@dataclass(frozen=True)
class StreamSchema:
    """Append-only elements, tags only, dedup by element id
    (``schema.proto:53-64``)."""

    group: str
    name: str
    paths: Tuple[str, ...]
    ts_column: str
    element_id_column: str
    tags: Tuple[TagSpec, ...]
    stages: Tuple["StageSpec", ...] = ()
    default_stages: Tuple[str, ...] = ()
    # Entity (series-key) tags. When declared, the series index restricts
    # conditions on them to EQ/IN — every comparison and negated membership
    # is an analyze-time error (``test/cases/stream/cmd/generate/
    # layer1_leaf.go:137-151`` isEntityUnsupportedOp; the gen_err_*_state /
    # gen_err_*_service_id golden cases). An empty tuple leaves all ops
    # unrestricted (documented relaxation for the synthetic event_log).
    entity: Tuple[str, ...] = ()
    # see MeasureSchema.created_at (reference 0.11 clamp)
    created_at: Optional[object] = None

    kind: str = "stream"

    def tag(self, name: str) -> Optional[TagSpec]:
        for t in self.tags:
            if t.name == name:
                return t
        return None


@dataclass(frozen=True)
class TraceSchema:
    """Raw span bytes + indexed tags; queries regroup by trace id
    (``schema.proto:247-273``)."""

    group: str
    name: str
    paths: Tuple[str, ...]
    ts_column: str
    trace_id_column: str
    span_id_column: str
    span_column: Optional[str]
    tags: Tuple[TagSpec, ...]
    stages: Tuple["StageSpec", ...] = ()
    default_stages: Tuple[str, ...] = ()
    # see MeasureSchema.created_at (reference 0.11 clamp)
    created_at: Optional[object] = None
    # The reference trace schema names its timestamp TAG
    # (``schema.proto`` trace ``timestamp_tag_name``; the conformance
    # ``sw`` trace declares tag "timestamp"), and queries may order by
    # that tag name (``orderBy.indexRuleName: timestamp``). When set,
    # an order-by on this alias means time ordering on ``ts_column``.
    ts_tag_alias: Optional[str] = None

    kind: str = "trace"

    def tag(self, name: str) -> Optional[TagSpec]:
        for t in self.tags:
            if t.name == name:
                return t
        return None


@dataclass(frozen=True)
class PropertySchema:
    """Schema'd key-value documents, CRUD (``schema.proto:224-235``)."""

    group: str
    name: str
    paths: Tuple[str, ...]
    id_column: str
    tags: Tuple[TagSpec, ...]

    kind: str = "property"

    def tag(self, name: str) -> Optional[TagSpec]:
        for t in self.tags:
            if t.name == name:
                return t
        return None


@dataclass(frozen=True)
class TopNAggregationSchema:
    """A TopNAggregation DECLARATION (``database/v1/schema.proto``
    TopNAggregation; the reference registers these beside measures —
    ``pkg/test/measure/testdata/topn_aggregations/*.json``). A TopN QUERY
    names the declaration, not the source measure
    (``topn_analyzer.go`` resolves name -> declaration -> source); the
    declaration carries the ranked field, the groupBy tags that key the
    ranking, and an optional write-side pre-filter criteria."""

    group: str
    name: str
    source_measure: Tuple[str, str]       # (group, name)
    field_name: str
    group_by_tags: Tuple[str, ...]
    criteria: Optional[object] = None     # CriteriaNode pre-filter
    counters_number: int = 1000

    kind: str = "topn"


ResourceSchema = object  # union of the five dataclasses above


class Catalog:
    """(group, kind, name) -> resource schema registry.

    Each group carries a monotonically increasing ``mod_revision`` (bumped on
    every schema register), mirroring the etcd mod-revision the reference
    exposes for per-group gating (``measure/v1/query.proto:151-154``
    group_mod_revisions: a query pinned to a revision fails if the group's
    schema changed since the client cached it)."""

    def __init__(self) -> None:
        self._resources: Dict[Tuple[str, str, str], ResourceSchema] = {}
        self._revisions: Dict[str, int] = {}

    def register(self, schema: ResourceSchema) -> None:
        if schema.kind == "measure":
            # reference 0.11: warn-and-continue — the registry accepts
            # the schema but flags broken entity locality
            # (banyand/measure/metadata.go:250-252)
            warn = check_sharding_key_subset(schema)
            if warn is not None:
                import warnings

                warnings.warn(warn, stacklevel=2)
        key = (schema.group, schema.kind, schema.name)
        prev = self._resources.get(key)
        if prev is not None and schema.kind == "measure":
            # shape-break rejection (test/cases/schema/shape_break.go):
            # an UPDATE may not change the entity — the series identity
            # of every stored row; the rejected update leaves the
            # registry (incl. mod_revision) untouched, and the sanctioned
            # path to a new shape is delete + recreate, which drops the
            # old data (delete_resource(remove_data=True)).
            if tuple(prev.entity or ()) != tuple(schema.entity or ()):
                raise SchemaError(
                    f"measure {schema.name!r} in group {schema.group!r}: "
                    f"entity change {list(prev.entity)} -> "
                    f"{list(schema.entity)} is rejected on update; "
                    "delete and recreate the measure instead")
            # created_at survives updates (apply_rollback.go / the 0.11
            # "Schema consistency" created_at contract): an update that
            # does not restate it inherits the first-appearance stamp
            if prev.created_at is not None and schema.created_at is None:
                import dataclasses as _dc

                schema = _dc.replace(schema, created_at=prev.created_at)
        self._resources[key] = schema
        self._revisions[schema.group] = self._revisions.get(schema.group, 0) + 1

    def delete_group(self, group: str, remove_data: bool = False) -> int:
        """Entire-group deletion (reference 0.10,
        ``banyand/metadata/schema/schema.go:172`` DeleteGroup: "delete
        all items belonging to the group"): drop every resource
        registered under ``group`` and, with ``remove_data``, the data
        directories their path sets point at (whole-directory removal —
        O(#resources) metadata ops like TTL's segment drop, no row
        rewrite). The group's mod_revision bumps so queries pinned to a
        pre-deletion revision fail fast instead of reading a vanished
        group. Returns the number of resources deleted; subsequent
        ``get`` raises SchemaError."""
        victims = [k for k in self._resources if k[0] == group]
        for key in victims:
            schema = self._resources.pop(key)
            if remove_data:
                import shutil as _shutil

                for p in getattr(schema, "paths", ()) or ():
                    _shutil.rmtree(p, ignore_errors=True)
        if victims:
            self._revisions[group] = self._revisions.get(group, 0) + 1
        return len(victims)

    def delete_resource(self, group: str, kind: str, name: str,
                        remove_data: bool = False) -> bool:
        """Single-resource deletion (the registry Delete RPCs,
        ``database/v1/rpc.proto``; conformance
        ``test/cases/schema/deletion.go``): the resource vanishes from
        the registry — subsequent writes AND queries raise SchemaError —
        while sibling resources and groups are untouched. Returns the
        reference's ``deleted`` confirmation flag (False when absent)."""
        key = (group, kind, name)
        schema = self._resources.pop(key, None)
        if schema is None:
            return False
        if remove_data:
            import shutil as _shutil

            for p in getattr(schema, "paths", ()) or ():
                _shutil.rmtree(p, ignore_errors=True)
        self._revisions[group] = self._revisions.get(group, 0) + 1
        return True

    def mod_revision(self, group: str) -> int:
        return self._revisions.get(group, 0)

    def group_statuses(self, expected: Dict[str, int]) -> Dict[str, str]:
        """Per-group gate verdicts, the reference's status taxonomy
        (``test/cases/schema/query_gate.go`` / ``write_gate.go``):

        - revision ``0`` or group absent from the map → ungated,
          ``STATUS_SUCCEED`` (write_gate: "skips the revision check and
          succeeds when ModRevision is zero");
        - match → ``STATUS_SUCCEED``;
        - client BEHIND the registry → ``STATUS_EXPIRED_SCHEMA``;
        - client AHEAD (a revision that never applies — we have no
          async propagation to wait on) → ``STATUS_SCHEMA_NOT_APPLIED``.
        """
        out: Dict[str, str] = {}
        for group, rev in (expected or {}).items():
            if rev == 0:
                out[group] = "STATUS_SUCCEED"
                continue
            have = self.mod_revision(group)
            if rev == have:
                out[group] = "STATUS_SUCCEED"
            elif rev < have:
                out[group] = "STATUS_EXPIRED_SCHEMA"
            else:
                out[group] = "STATUS_SCHEMA_NOT_APPLIED"
        return out

    def check_revisions(self, expected: Dict[str, int]) -> None:
        """Fail fast when a pinned group revision mismatches — the
        compile path rejects the query rather than answering from a
        changed schema (the response layer offers the short-circuit
        group_statuses form instead — ``response.gated_statuses``)."""
        from .errors import QueryAnalyzeError

        for group, status in self.group_statuses(expected).items():
            if status == "STATUS_EXPIRED_SCHEMA":
                raise QueryAnalyzeError(
                    f"group {group!r} schema revision changed: expired "
                    f"schema (expected {expected[group]}, have "
                    f"{self.mod_revision(group)})")
            if status == "STATUS_SCHEMA_NOT_APPLIED":
                raise QueryAnalyzeError(
                    f"group {group!r} schema revision changed: revision "
                    f"{expected[group]} not applied (have "
                    f"{self.mod_revision(group)})")

    def get(self, group: str, kind: str, name: str) -> ResourceSchema:
        try:
            return self._resources[(group, kind, name)]
        except KeyError:
            raise SchemaError(f"unknown {kind} {name!r} in group {group!r}")

    def get_many(self, groups: Sequence[str], kind: str, name: str):
        """Resolve the same-named resource across groups (multi-group query,
        ``measure_plan_merge.go:39-176``)."""
        return [self.get(g, kind, name) for g in groups]


def merged_schema(catalog: Catalog, groups, kind: str, name: str):
    """Merged logical schema across groups — FIRST declaration wins; tags
    (and fields, for measures) present in only some groups join the
    merged declaration and NULL-fill in the others
    (``measure_plan_merge.go:39-176`` / ``logical/measure/schema.go``
    mergeSchema; the stream/trace merge planners behave alike). The one
    place tag/field lists merge across groups: the multi-group read path
    (``operators.merge.resolve_groups``) compiles against it, and
    multi-group RESPONSES shape against it — a tag only a later group
    declares (``multi_group_new_tag``) must still appear in the envelope's
    tag families."""
    import dataclasses

    schemas = catalog.get_many(groups, kind, name)
    base = schemas[0]
    if len(schemas) == 1:
        return base
    tags = list(base.tags)
    seen_t = {t.name for t in tags}
    kw = {}
    for s in schemas[1:]:
        tags += [t for t in s.tags if t.name not in seen_t]
        seen_t |= {t.name for t in s.tags}
    kw["tags"] = tuple(tags)
    if hasattr(base, "fields"):
        fields = list(base.fields)
        seen_f = {f.name for f in fields}
        for s in schemas[1:]:
            fields += [f for f in s.fields if f.name not in seen_f]
            seen_f |= {f.name for f in s.fields}
        kw["fields"] = tuple(fields)
    return dataclasses.replace(base, **kw)


def default_catalog(sf_dir: str) -> Catalog:
    """Map the driver's synthetic tables onto BanyanDB's resource taxonomy.

    - ``events``  -> measure ``metrics`` (entity=user_id, field=value,
      version=event_id), stream ``event_log`` (element_id=event_id), and
      trace ``event_trace`` (trace_id=user_id, span_id=event_id,
      span bytes=props).
    - ``documents`` -> property ``documents`` (id=doc_id) with an analyzed
      ``text`` tag (MATCH-able).
    Two logical groups ``g1``/``g2`` share the measure physical data to
    exercise multi-group union semantics.
    """
    from .functions.analyzers import tokens_spark_sql

    cat = Catalog()
    ev = f"{sf_dir}/events.parquet"

    measure_tags = (
        TagSpec("user_id", "INT"),
        # analyzed (MATCH-able) index rule on the string tag; the standard
        # analyzer leaves single-token values whole, so EQ-style semantics
        # are unchanged for every other op
        TagSpec("event_type", "STRING", analyzer="standard"),
        TagSpec("props", "STRING", indexed=False),
    )
    for grp in ("g1", "g2"):
        cat.register(
            MeasureSchema(
                group=grp,
                name="metrics",
                paths=(ev,),
                ts_column="ts",
                tags=measure_tags,
                fields=(FieldSpec("value", "FLOAT"),),
                entity=("user_id",),
                version_column="event_id",
                interval="1 minute",
            )
        )

    # g3: same measure minus the 'props' tag — the heterogeneous-schema
    # multi-group case ("multi groups: new tag and fields" golden case:
    # columns missing from one group come back NULL-filled)
    cat.register(
        MeasureSchema(
            group="g3",
            name="metrics",
            paths=(ev,),
            ts_column="ts",
            tags=(TagSpec("user_id", "INT"), TagSpec("event_type", "STRING")),
            fields=(FieldSpec("value", "FLOAT"),),
            entity=("user_id",),
            version_column="event_id",
            interval="1 minute",
        )
    )

    # index-mode measure: same data, no version/series semantics
    cat.register(
        MeasureSchema(
            group="g1",
            name="metrics_idx",
            paths=(ev,),
            ts_column="ts",
            tags=measure_tags,
            fields=(FieldSpec("value", "FLOAT"),),
            entity=("user_id",),
            version_column="event_id",
            index_mode=True,
        )
    )

    # g1/g2 share the stream schema (the reference's multi-group golden
    # case ``stream multi_group_unchanged``; element-id dedup runs across
    # the group union, matching the reference's merged iterator).
    for grp in ("g1", "g2"):
        cat.register(
            StreamSchema(
                group=grp,
                name="event_log",
                paths=(ev,),
                ts_column="ts",
                element_id_column="event_id",
                tags=(
                    TagSpec("user_id", "INT"),
                    TagSpec("event_type", "STRING", analyzer="standard"),
                    TagSpec("value", "FLOAT"),
                    TagSpec("props", "STRING", indexed=False,
                            analyzer="standard"),
                    # derived ARRAY tag — the conformance corpus's
                    # ``extended_tags`` analogue (stream ``having*`` golden
                    # cases). Same token expression as the standard
                    # analyzer (functions/analyzers.tokens); at 100 TB this
                    # is a generated column written at ingest.
                    TagSpec(
                        "props_tokens", "STRING_ARRAY",
                        expr=tokens_spark_sql("props", "standard"),
                    ),
                ),
            )
        )

    # g1/g2 twin trace groups (multi-group trace golden cases: spans from
    # every group's iterator merge into the trace)
    for grp in ("g1", "g2"):
        cat.register(
            TraceSchema(
                group=grp,
                name="event_trace",
                paths=(ev,),
                ts_column="ts",
                trace_id_column="user_id",
                span_id_column="event_id",
                span_column="props",
                tags=(
                    TagSpec("event_type", "STRING"),
                    TagSpec("value", "FLOAT"),
                ),
            )
        )

    cat.register(
        PropertySchema(
            group="g1",
            name="documents",
            paths=(f"{sf_dir}/documents.parquet",),
            id_column="doc_id",
            tags=(
                TagSpec("text", "STRING", analyzer="standard"),
                TagSpec("lang", "STRING"),
                TagSpec("source", "STRING"),
                TagSpec("n_chars", "INT"),
            ),
        )
    )
    return cat


# ---------------------------------------------------------------------------
# Declarative persistence — the registry's schemas as JSON documents, the
# analogue of the reference's etcd-backed metadata registry
# (``banyand/metadata/``, ``pkg/schema/``; schemas declared first via
# ``database/v1/rpc.proto`` then validated against at analyze time).
# ---------------------------------------------------------------------------

_KIND_TO_CLASS = None  # populated lazily below


def _kind_map():
    global _KIND_TO_CLASS
    if _KIND_TO_CLASS is None:
        _KIND_TO_CLASS = {
            "measure": MeasureSchema,
            "stream": StreamSchema,
            "trace": TraceSchema,
            "property": PropertySchema,
            "topn": TopNAggregationSchema,
        }
    return _KIND_TO_CLASS


def catalog_to_json(catalog: "Catalog") -> str:
    """Serialize every registered resource (declaration order preserved)."""
    import dataclasses
    import json

    out = []
    for schema in catalog._resources.values():
        d = dataclasses.asdict(schema)
        out.append(d)
    return json.dumps({"resources": out}, indent=2, default=list)


def catalog_from_json(text: str) -> "Catalog":
    """Rebuild a Catalog from :func:`catalog_to_json` output."""
    import json

    cat = Catalog()
    for d in json.loads(text)["resources"]:
        kind = d.pop("kind")
        cls = _kind_map()[kind]
        for key in ("paths", "entity", "default_stages"):
            if key in d and d[key] is not None:
                d[key] = tuple(d[key])
        if "tags" in d:
            d["tags"] = tuple(TagSpec(**t) for t in d["tags"])
        if "fields" in d and d["fields"] is not None:
            d["fields"] = tuple(FieldSpec(**f) for f in d["fields"])
        if "stages" in d and d["stages"]:
            d["stages"] = tuple(
                StageSpec(name=s["name"], paths=tuple(s["paths"]))
                for s in d["stages"]
            )
        cat.register(cls(**d))
    return cat


def save_catalog(catalog: "Catalog", path: str) -> None:
    with open(path, "w") as f:
        f.write(catalog_to_json(catalog))


def load_catalog(path: str) -> "Catalog":
    with open(path) as f:
        return catalog_from_json(f.read())
