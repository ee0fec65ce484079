"""ProvDataFrame — the provenance-instrumented DataFrame.

Design (SURVEY.md §2.1, §4.2): the reference forks Spark so that every RDD
operator computes ``Iterator[DataElement[T]]`` (reference
core/src/main/scala/org/apache/spark/rdd/RDD.scala:123) and fires one async
Cassandra insert per element (br/uff/spark/DataElement.scala:24-29). We stay
on stock Spark: each public operator is a thin passthrough to the DataFrame
API that

1. mints a *task* row at construction time (reference rdd/RDD.scala:157-197
   persists the Task synchronously on RDD construction — same timing here),
2. when element provenance is enabled, carries ``_prov_id`` /
   ``_prov_deps`` as ordinary columns so lineage rides the same Tungsten
   pipeline as the data (no per-record side channel), and
3. persists element tables in columnar, distributed batches.

Element-dependency semantics preserved from the reference (SURVEY.md §2.1):
map 1-1 (rdd/RDD.scala:496-516), filter pass-through + opt-in drop-sentinel
(rdd/MapPartitionsRDD.scala:83-127), aggregation n-1 via collected dep sets
(Aggregator.scala:38-55), join all-matching-sides (CoGroupedRDD.scala:86-133),
distinct survivor-depends-on-duplicates (rdd/RDD.scala:534-548), ignored ops
transparent (DataElement.scala:34-46) — an ignored op keeps ``_prov_id``
NULL and carries its input's dep set forward, so downstream edges skip it.

Provenance levels:
- ``provenance=False`` on the session: pure passthrough, zero overhead.
- ``provenance=True`` (default): run/task-level capture — O(#operators)
  metadata, no per-row cost; this is the bench configuration.
- ``.with_elements()`` on a chain: full element-level capture, persisted
  per operator in distributed batches. Opt-in because at 100 TB the element
  tables dwarf the data.
"""

from __future__ import annotations

import uuid
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from samba_spark.prov.model import PROV_DEPS, PROV_ID

# Cap on fan-in recorded through one aggregation output element. The
# reference accumulates unbounded UUID lists across spills
# (util/collection/ExternalSorter.scala:181-460); unbounded is not viable at
# 100 TB, so we cap (SURVEY.md §4.2 hard spot (a)).
AGG_DEPS_CAP = 10_000
DROP_SENTINEL_PREFIX = "don't-pass: "

_EMPTY_DEPS = "CAST(array() AS array<string>)"


def _new_task_id() -> str:
    return str(uuid.uuid4())


def _dep_expr(df: DataFrame) -> Column:
    """Per-row effective dependency ids: the row's own element id, or — if
    this row came from an ignored (transparent) op with NULL id — the dep
    set it carried through (reference DataElement.scala:34-46)."""
    has_id = PROV_ID in df.columns
    has_deps = PROV_DEPS in df.columns
    if has_id and has_deps:
        return F.when(
            F.col(PROV_ID).isNotNull(), F.array(F.col(PROV_ID))
        ).otherwise(F.col(PROV_DEPS))
    if has_id:
        return F.array(F.col(PROV_ID))
    return F.expr(_EMPTY_DEPS)


class ProvDataFrame:
    """A DataFrame plus its provenance Task. Relational methods mirror
    pyspark.sql.DataFrame and return ProvDataFrame."""

    def __init__(
        self,
        session,
        df: DataFrame,
        *,
        op: str,
        desc: Optional[str] = None,
        parents: Sequence["ProvDataFrame"] = (),
        elements_enabled: bool = False,
    ):
        self.session = session
        self._df = df
        self.op = op
        self.desc = desc or op
        self.parents = list(parents)
        self.ignored = False
        self.elements_enabled = elements_enabled
        self.task_id = _new_task_id()
        self.schema_fn: Optional[Callable[..., Column]] = None
        self._elements_written = False
        if session.provenance_enabled:
            group_id = session.groups.register(
                self.task_id,
                has_parent_in_group=bool(session.groups.current)
                and any(
                    p.task_id
                    in (
                        session.groups.current.init_tasks
                        + session.groups.current.intermediary_tasks
                    )
                    for p in self.parents
                ),
            )
            session.store.write_task(
                session.run_id,
                self.task_id,
                transformation_type=op,
                description=self.desc,
                schema_fields=self.user_columns,
                dep_task_ids=self._effective_parent_task_ids(),
                group_id=group_id,
            )

    # -- plumbing ----------------------------------------------------------
    def _effective_parent_task_ids(self) -> list[str]:
        """Task deps skip ignored parents to their nearest recorded ancestor
        (reference Task.scala:34-43)."""
        out: list[str] = []
        for p in self.parents:
            if p.ignored:
                out.extend(p._effective_parent_task_ids())
            else:
                out.append(p.task_id)
        return out

    @property
    def df(self) -> DataFrame:
        """The underlying Spark DataFrame *without* provenance columns."""
        drop = [c for c in (PROV_ID, PROV_DEPS) if c in self._df.columns]
        return self._df.drop(*drop) if drop else self._df

    @property
    def raw(self) -> DataFrame:
        return self._df

    @property
    def user_columns(self) -> list[str]:
        return [c for c in self._df.columns if c not in (PROV_ID, PROV_DEPS)]

    @property
    def columns(self) -> list[str]:
        return self.user_columns

    @property
    def schema(self):
        return self.df.schema

    def column_lineage(self) -> DataFrame:
        """Column-level lineage of this pipeline: (out_col, src_table,
        src_col) edges resolved from the analyzed Catalyst plan — the
        third provenance axis beyond element/task grain (prov/
        column_lineage.py). Plan-sized; costs no Spark job."""
        from samba_spark.prov.column_lineage import column_lineage

        return column_lineage(self.df, self.session.spark)

    @staticmethod
    def _mint_ids(df: DataFrame) -> DataFrame:
        """Fresh element ids: random prefix + partition-local counter —
        unique across operators and executors without coordination. The
        reference uses time-based UUIDv1 with a per-worker LSB offset for
        the same concern (DataElement.scala:78-85)."""
        prefix = uuid.uuid4().hex[:12]
        return df.withColumn(
            PROV_ID,
            F.concat_ws(
                ":", F.lit(prefix), F.monotonically_increasing_id().cast("string")
            ),
        )

    def _strip(self, df: DataFrame) -> DataFrame:
        drop = [c for c in (PROV_ID, PROV_DEPS) if c in df.columns]
        return df.drop(*drop) if drop else df

    def _lineage_1to1(self, df: DataFrame) -> DataFrame:
        """1-1 / 1-N ops: new element per row, deps = effective input deps
        (reference map semantics, rdd/RDD.scala:496-516)."""
        if not self.elements_enabled:
            return self._strip(df)
        deps = _dep_expr(df)
        out = df.withColumn("_new_deps", deps)
        out = self._strip(out).withColumnRenamed("_new_deps", PROV_DEPS)
        return self._mint_ids(out)

    def _lineage_fresh(self, df: DataFrame) -> DataFrame:
        """Ops where per-row input lineage is not representable row-wise
        (set ops via Catalyst, mapInPandas): new elements, empty deps —
        task-level lineage still links the operators."""
        if not self.elements_enabled:
            return self._strip(df)
        return self._mint_ids(self._strip(df).withColumn(PROV_DEPS, F.expr(_EMPTY_DEPS)))

    def _child(
        self,
        df: DataFrame,
        op: str,
        desc: Optional[str] = None,
        *,
        parents: Optional[Sequence["ProvDataFrame"]] = None,
    ) -> "ProvDataFrame":
        return ProvDataFrame(
            self.session,
            df,
            op=op,
            desc=desc,
            parents=parents if parents is not None else [self],
            elements_enabled=self.elements_enabled,
        )

    # -- element capture -----------------------------------------------------
    def with_elements(self) -> "ProvDataFrame":
        """Enable element-level capture from this operator downstream. The
        current rows become source elements with no deps (reference:
        parallelize/source elements, rdd/ParallelCollectionRDD.scala:40-46)."""
        out = self._child(self._df, op="with_elements", desc="enable elements")
        out.elements_enabled = True
        out._df = self._mint_ids(
            self._strip(self._df).withColumn(PROV_DEPS, F.expr(_EMPTY_DEPS))
        )
        return out

    def persist_elements(self) -> "ProvDataFrame":
        """Write this operator's element + element-dep rows (distributed
        batch appends — the analogue of the reference's per-element async
        CQL, CassandraDBDao.scala:131-142).

        ``value_json`` (our lossless-JSON extra; the reference stores only
        the stringified ``values`` list, CassandraDatabaseScript.cql) is
        written NULL: serializing every row TWICE — values array AND
        to_json struct — measurably doubled the element-write CPU for a
        column nothing in the query surface reads. The schema keeps the
        column, and explicit ``update_element_value`` overrides still
        store JSON."""
        if not (
            self.session.provenance_enabled
            and self.elements_enabled
            and not self.ignored
        ):
            return self
        if self._elements_written:
            return self
        self._elements_written = True
        cached = self._df.cache()
        self._df = cached
        run_id, task_id = self.session.run_id, self.task_id
        user_cols = self.user_columns
        if self.schema_fn is not None:
            values = self.schema_fn(cached)
        else:
            # Default schema: one row of stringified columns — the analogue
            # of the reference's DefaultSchema family
            # (schema/DefaultSchema.scala:3-8, DefaultPairSchema.scala:17-26).
            values = F.array(
                F.array(*[F.col(c).cast("string") for c in user_cols])
            )
        elements = cached.select(
            F.lit(run_id).alias("run_id"),
            F.lit(task_id).alias("task_id"),
            F.col(PROV_ID).alias("element_id"),
            values.alias("values"),
            F.lit(None).cast("string").alias("value_json"),
        )
        self.session.store.append_elements(elements)
        deps = cached.select(
            F.lit(run_id).alias("run_id"),
            F.lit(task_id).alias("task_id"),
            F.col(PROV_ID).alias("element_id"),
            F.explode(F.col(PROV_DEPS)).alias("dep_element_id"),
        )
        self.session.store.append_element_deps(deps)
        # Kick the two deferred write jobs off NOW on the store's
        # background worker: they compute from the cache just built, so
        # they overlap the caller's foreground action instead of adding
        # two fixed write latencies after it (store.flush() still joins
        # them — visibility and the §6 overhead timer are unchanged).
        self.session.store.schedule_flush()
        return self

    # -- A10/A11/A12 ----------------------------------------------------------
    def set_schema(self, fn: Callable[[DataFrame], Column]) -> "ProvDataFrame":
        """A10 provenance projection (reference rdd/RDD.scala:271-275):
        ``fn(df) -> Column[array<array<string>>]`` used for elements.values."""
        self.schema_fn = fn
        if self.session.provenance_enabled:
            self.session.store.update_task_schema(
                self.session.run_id, self.task_id, None
            )
        return self

    def ignore_it(self) -> "ProvDataFrame":
        """A11: exclude this op from provenance; deps flow through it
        (reference rdd/RDD.scala:238-241, DataElement.scala:34-46)."""
        self.ignored = True
        self.session.store.remove_task(self.session.run_id, self.task_id)
        if self.elements_enabled and PROV_ID in self._df.columns:
            # NULL id + retained deps = transparent to downstream _dep_expr.
            self._df = self._df.withColumn(
                PROV_ID, F.lit(None).cast("string")
            )
        return self

    def set_name(self, name: str) -> "ProvDataFrame":
        """A12 (reference rdd/RDD.scala:281-285)."""
        self.desc = name
        if self.session.provenance_enabled:
            self.session.store.rename_task(self.session.run_id, self.task_id, name)
        return self

    # -- sources ---------------------------------------------------------------
    @classmethod
    def _source(cls, session, df: DataFrame, op: str, desc: str) -> "ProvDataFrame":
        return cls(session, df, op=op, desc=desc, parents=())

    # -- relational surface (Layer B passthroughs) ------------------------------
    def select(self, *cols) -> "ProvDataFrame":
        keep = [c for c in (PROV_ID, PROV_DEPS) if c in self._df.columns]
        df = self._df.select(*cols, *keep)
        return self._child(self._lineage_1to1(df), "map", "select")

    def with_column(self, name: str, col: Column) -> "ProvDataFrame":
        df = self._df.withColumn(name, col)
        return self._child(self._lineage_1to1(df), "map", f"with_column({name})")

    withColumn = with_column

    def where(self, condition, *, track_dropped: bool = False) -> "ProvDataFrame":
        """filter. ``track_dropped=True`` also records dropped rows as deps
        of a per-task sentinel element (reference
        rdd/MapPartitionsRDD.scala:83-127) — opt-in: it doubles scan work."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        df = self._df.where(cond)
        child = self._child(self._lineage_1to1(df), "filter", str(condition)[:200])
        if (
            track_dropped
            and self.elements_enabled
            and self.session.provenance_enabled
        ):
            dropped = self._df.where(~cond | cond.isNull())
            sentinel = DROP_SENTINEL_PREFIX + child.task_id
            run_id = self.session.run_id
            self.session.store.append_elements(
                dropped.limit(1).select(
                    F.lit(run_id).alias("run_id"),
                    F.lit(child.task_id).alias("task_id"),
                    F.lit(sentinel).alias("element_id"),
                    F.array(F.array(F.lit(sentinel))).alias("values"),
                    F.lit(None).cast("string").alias("value_json"),
                )
            )
            self.session.store.append_element_deps(
                dropped.select(
                    F.lit(run_id).alias("run_id"),
                    F.lit(child.task_id).alias("task_id"),
                    F.lit(sentinel).alias("element_id"),
                    F.explode(_dep_expr(dropped)).alias("dep_element_id"),
                )
            )
        return child

    filter = where

    def explode_col(self, col: str, alias: str) -> "ProvDataFrame":
        """flatMap analogue: one input row → N output rows, each depending
        on its input (reference rdd/RDD.scala:507-516)."""
        keep = [c for c in self._df.columns if c != col]
        df = self._df.select(*keep, F.explode(F.col(col)).alias(alias))
        return self._child(self._lineage_1to1(df), "flatMap", f"explode({col})")

    def group_by(self, *cols):
        return _GroupedProv(self, cols)

    groupBy = group_by

    def join(
        self,
        other: "ProvDataFrame",
        on=None,
        how: str = "inner",
    ) -> "ProvDataFrame":
        """Join. Output element depends on the matching elements of both
        sides (reference rdd/CoGroupedRDD.scala:86-133)."""
        left, right = self._df, other._df
        if self.elements_enabled:
            left = left.withColumn("_dep_l", _dep_expr(left))
            left = self._strip(left)
            right = right.withColumn("_dep_r", _dep_expr(right))
            right = self._strip(right)
        joined = left.join(right, on=on, how=how)
        if self.elements_enabled:
            deps = F.concat(
                F.coalesce(F.col("_dep_l"), F.expr(_EMPTY_DEPS)),
                F.coalesce(F.col("_dep_r"), F.expr(_EMPTY_DEPS)),
            )
            joined = (
                joined.withColumn(PROV_DEPS, deps).drop("_dep_l", "_dep_r")
            )
            joined = self._mint_ids(joined)
        return self._child(joined, f"join_{how}", parents=[self, other])

    def cross_join(self, other: "ProvDataFrame") -> "ProvDataFrame":
        left, right = self._df, other._df
        if self.elements_enabled:
            left = self._strip(
                left.withColumn("_dep_l", _dep_expr(left))
            )
            right = self._strip(
                right.withColumn("_dep_r", _dep_expr(right))
            )
            joined = (
                left.crossJoin(right)
                .withColumn(PROV_DEPS, F.concat("_dep_l", "_dep_r"))
                .drop("_dep_l", "_dep_r")
            )
            joined = self._mint_ids(joined)
        else:
            joined = left.crossJoin(right)
        return self._child(joined, "cartesian", parents=[self, other])

    crossJoin = cross_join

    def distinct(self) -> "ProvDataFrame":
        """Surviving element depends on all duplicate occurrences
        (reference rdd/RDD.scala:534-548)."""
        if self.elements_enabled:
            cols = self.user_columns
            src = self._df.withColumn("_deps", _dep_expr(self._df))
            df = src.groupBy(*cols).agg(
                F.slice(
                    F.array_distinct(F.flatten(F.collect_list("_deps"))),
                    1,
                    AGG_DEPS_CAP,
                ).alias(PROV_DEPS)
            )
            df = self._mint_ids(df)
        else:
            df = self.df.distinct()
        return self._child(df, "distinct")

    def drop_duplicates(self, subset: Optional[list[str]] = None) -> "ProvDataFrame":
        if subset is None:
            return self.distinct()
        df = self._df.dropDuplicates(subset)
        return self._child(
            self._lineage_1to1(df), "distinct", f"dropDuplicates({subset})"
        )

    dropDuplicates = drop_duplicates

    def union(self, other: "ProvDataFrame") -> "ProvDataFrame":
        """unionAll (reference rdd/RDD.scala:752, UnionRDD.scala:75)."""
        if self.elements_enabled:
            l = self._strip(
                self._df.withColumn("_deps", _dep_expr(self._df))
            ).withColumnRenamed("_deps", PROV_DEPS)
            r = self._strip(
                other._df.withColumn("_deps", _dep_expr(other._df))
            ).withColumnRenamed("_deps", PROV_DEPS)
            df = self._mint_ids(l.unionByName(r))
        else:
            df = self.df.unionByName(other.df)
        return self._child(df, "union", parents=[self, other])

    def intersect(self, other: "ProvDataFrame") -> "ProvDataFrame":
        return self._child(
            self._lineage_fresh(self.df.intersect(other.df)),
            "intersection",
            parents=[self, other],
        )

    def subtract(self, other: "ProvDataFrame") -> "ProvDataFrame":
        return self._child(
            self._lineage_fresh(self.df.exceptAll(other.df)),
            "subtract",
            parents=[self, other],
        )

    def order_by(self, *cols) -> "ProvDataFrame":
        return self._child(self._lineage_1to1(self._df.orderBy(*cols)), "sort")

    orderBy = order_by

    def limit(self, n: int) -> "ProvDataFrame":
        return self._child(
            self._lineage_1to1(self._df.limit(n)), "take", f"limit({n})"
        )

    def repartition(self, n: int, *cols) -> "ProvDataFrame":
        df = self._df.repartition(n, *cols) if cols else self._df.repartition(n)
        return self._child(df, "partitionBy", f"repartition({n})")

    def coalesce(self, n: int) -> "ProvDataFrame":
        return self._child(self._df.coalesce(n), "coalesce", f"coalesce({n})")

    def cache(self) -> "ProvDataFrame":
        self._df = self._df.cache()
        return self

    def sample(self, fraction: float, seed: Optional[int] = None) -> "ProvDataFrame":
        return self._child(
            self._lineage_1to1(self._df.sample(fraction=fraction, seed=seed)),
            "sample",
        )

    def map_values(self, key_cols: list[str], col: Column, alias: str) -> "ProvDataFrame":
        """mapValues analogue (reference PairRDDFunctions.scala:754):
        transform the value while keeping the key columns untouched."""
        df = self._df.select(*key_cols, col.alias(alias),
                             *[c for c in (PROV_ID, PROV_DEPS) if c in self._df.columns])
        return self._child(self._lineage_1to1(df), "mapValues", alias)

    def key_by(self, col: Column, alias: str = "key") -> "ProvDataFrame":
        """keyBy (reference rdd/RDD.scala:1738)."""
        return self.with_column(alias, col)

    def glom(self) -> "ProvDataFrame":
        """glom (reference rdd/RDD.scala:826): one row per partition holding
        all its rows — via mapInPandas batch collection."""
        import pandas as pd
        import pyspark.sql.types as T

        cols = self.user_columns
        schema = T.StructType(
            [
                T.StructField(
                    "partition_rows",
                    T.ArrayType(T.MapType(T.StringType(), T.StringType())),
                ),
                T.StructField("n", T.LongType()),
            ]
        )

        def _glom_str(batches):
            rows = []
            for b in batches:
                rows.extend(
                    [{k: str(v) for k, v in r.items()} for r in b[cols].to_dict("records")]
                )
            yield pd.DataFrame([{"partition_rows": rows, "n": len(rows)}])

        return self._child(
            self._lineage_fresh(self.df.mapInPandas(_glom_str, schema)), "glom"
        )

    def checkpoint(self, eager: bool = True) -> "ProvDataFrame":
        """checkpoint (reference rdd/RDD.scala:1755) — truncates lineage of
        the *physical* plan; provenance task lineage is unaffected."""
        self._df = self._df.localCheckpoint(eager=eager)
        return self

    def map_in_pandas(self, fn, schema) -> "ProvDataFrame":
        """mapPartitions analogue (reference rdd/RDD.scala:955-1044)."""
        return self._child(
            self._lineage_fresh(self.df.mapInPandas(fn, schema)), "mapPartitions"
        )

    mapInPandas = map_in_pandas

    def pipe(
        self,
        command: "str | list[str]",
        *,
        input_col: Optional[str] = None,
        output_col: str = "value",
        env: Optional[dict] = None,
        encoding: str = "utf-8",
        check_exit_code: bool = True,
    ) -> "ProvDataFrame":
        """Line-mode pipe (reference rdd/RDD.scala:887-945,
        PipedRDD.scala:70-236): partition rows become stdin lines of one
        forked process per partition; its stdout lines become output rows.
        The command is a black box, so when element capture is on every
        output element depends on ALL input elements its partition consumed
        (all-to-all, capped at AGG_DEPS_CAP — PipedRDD.scala:170-236)."""
        from samba_spark.operators.pipe import make_partition_runner, pipe_lines

        if not self.elements_enabled:
            out = pipe_lines(
                self.df,
                command,
                input_col=input_col,
                output_col=output_col,
                env=env,
                encoding=encoding,
                check_exit_code=check_exit_code,
            )
            return self._child(out, "pipe", f"pipe({str(command)[:80]})")

        import pandas as pd
        import pyspark.sql.types as T

        cols = self.user_columns
        if input_col is not None:
            line = F.col(input_col).cast("string")
        elif len(cols) == 1:
            line = F.col(cols[0]).cast("string")
        else:
            line = F.concat_ws("\t", *[F.col(c).cast("string") for c in cols])
        src = self._df.withColumn("_deps_in", _dep_expr(self._df)).select(
            line.alias("_line"), "_deps_in"
        )
        schema = T.StructType(
            [
                T.StructField(output_col, T.StringType()),
                T.StructField(PROV_DEPS, T.ArrayType(T.StringType())),
            ]
        )
        cap = AGG_DEPS_CAP
        runner = make_partition_runner(
            command, env=env, encoding=encoding, check_exit_code=check_exit_code
        )

        def _pipe(batches):
            seen: list[str] = []
            seen_set: set[str] = set()

            def lines():
                for b in batches:
                    for v, deps in zip(b["_line"], b["_deps_in"]):
                        if deps is not None:
                            it = deps.tolist() if hasattr(deps, "tolist") else deps
                            for d in it:
                                if d not in seen_set and len(seen) < cap:
                                    seen_set.add(d)
                                    seen.append(d)
                        yield "" if v is None else str(v)

            out = runner(lines())
            yield pd.DataFrame(
                {output_col: out, PROV_DEPS: [list(seen)] * len(out)}
            )

        result = ProvDataFrame._mint_ids(src.mapInPandas(_pipe, schema))
        return self._child(result, "pipe", f"pipe({str(command)[:80]})")

    # -- actions ------------------------------------------------------------
    def collect(self):
        if self.elements_enabled:
            self.persist_elements()
        return self.df.collect()

    def count(self) -> int:
        return self.df.count()

    def to_pandas(self):
        return self.df.toPandas()

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        if self.elements_enabled:
            self.persist_elements()
        self.df.write.mode(mode).parquet(path)

    def explain(self, mode: str = "formatted"):
        return self.df.explain(mode=mode)

    def foreach_with_element(self, fn) -> None:
        """A14 analogue: user code sees rows carrying ``_prov_id``
        (reference rdd/RDD.scala:1124-1126)."""
        if not self.elements_enabled:
            raise RuntimeError("enable element provenance first (.with_elements())")
        self.persist_elements()
        self._df.foreach(fn)


class _GroupedProv:
    """groupBy().agg() with n-1 lineage: the output element per key depends
    on all inputs merged into it, capped at AGG_DEPS_CAP (reference
    Aggregator.scala:38-55, ExternalSorter.scala:181-460 — dependency lists
    merged across spills; ours rides the same shuffle as the user agg, so
    partial aggregation still applies to the user side)."""

    def __init__(self, parent: ProvDataFrame, cols):
        self.parent = parent
        self.cols = list(cols)

    def agg(self, *exprs) -> ProvDataFrame:
        p = self.parent
        if p.elements_enabled:
            src = p._df.withColumn("_deps", _dep_expr(p._df))
            lineage = F.slice(
                F.array_distinct(F.flatten(F.collect_list("_deps"))),
                1,
                AGG_DEPS_CAP,
            ).alias(PROV_DEPS)
            df = src.groupBy(*self.cols).agg(*exprs, lineage)
            df = ProvDataFrame._mint_ids(df)
        else:
            df = p.df.groupBy(*self.cols).agg(*exprs)
        return p._child(df, "reduceByKey", f"groupBy({self.cols})")

    def count(self) -> ProvDataFrame:
        return self.agg(F.count(F.lit(1)).alias("count"))
