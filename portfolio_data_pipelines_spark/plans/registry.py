"""dbt-parity model registry (SURVEY §2.2 K5, §2.9 O5, §3.3, §7 M4).

The reference's SQL layer is dbt: models are SELECT statements with
``{{ source(...) }}`` / ``{{ ref(...) }}`` indirection, materialized as
views in namespaced schemas (``public_stg``, ``public_marts`` —
``dbt_project.yml:11-17``), selected/excluded by tag
(``dbt run --select tag:weather --exclude stg_fx_rates fx_top10_daily``,
``weather_hourly_pipeline.py:119``).

Spark-native restatement: a registry of named models whose SQL uses
``{{ source('schema','table') }}`` and ``{{ ref('model') }}`` placeholders,
resolved against the Spark catalog, topologically sorted by ref edges, and
built as (temp) views — Catalyst then inlines view-on-view plans exactly
like Postgres inlines the dbt views (lazy, no data movement at build time).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

_SOURCE_RE = re.compile(r"\{\{\s*source\(\s*'([^']*)'\s*,\s*'([^']*)'\s*\)\s*\}\}")
_REF_RE = re.compile(r"\{\{\s*ref\(\s*'([^']*)'\s*\)\s*\}\}")
_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
# dbt's incremental guard: {% if is_incremental() %} ... {% endif %}.
# Kept on incremental runs, stripped on first build / full refresh.
_INCR_RE = re.compile(
    r"\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)\{%\s*endif\s*%\}", re.DOTALL
)


@dataclass(frozen=True)
class Model:
    """One named SELECT model (dbt-model parity).

    ``materialized`` mirrors dbt: ``view`` (default — lazy, inlined by
    Catalyst), ``table`` (physical CTAS rebuilt per run), or
    ``incremental`` (first run = CTAS; later runs compute only the SQL's
    output — typically filtered via the ``is_incremental()`` block
    against ``{{ this }}`` — and merge it in on ``unique_key``, or
    append when no key is given). Physical materializations require a
    metastore-backed session (``run(persistent=True)``).
    """

    name: str
    sql: str
    tags: frozenset[str] = field(default_factory=frozenset)
    schema: str = ""  # namespace prefix, e.g. "stg" / "marts"
    materialized: str = "view"  # view | table | incremental
    unique_key: tuple[str, ...] = ()

    @property
    def view_name(self) -> str:
        # dbt namespaces views as <target_schema>_<custom_schema>.<name>;
        # with temp views we flatten to <schema>_<name>.
        return f"{self.schema}_{self.name}" if self.schema else self.name

    @property
    def qualified_name(self) -> str:
        # Persistent-catalog form: a real schema namespace
        # (spark_catalog.stg.stg_weather_hourly) — dbt's
        # public_stg.stg_weather_hourly parity (dbt_project.yml:11-17).
        return f"{self.schema}.{self.name}" if self.schema else self.name

    @property
    def refs(self) -> set[str]:
        return set(_REF_RE.findall(self.sql))

    @property
    def sources(self) -> set[tuple[str, str]]:
        return set(_SOURCE_RE.findall(self.sql))


class ModelRegistry:
    """Register models, resolve refs/sources, build views in topo order."""

    def __init__(self) -> None:
        self._models: dict[str, Model] = {}
        self._source_views: dict[tuple[str, str], str] = {}

    def add(self, model: Model) -> "ModelRegistry":
        if model.name in self._models:
            raise ValueError(f"duplicate model {model.name!r}")
        self._models[model.name] = model
        return self

    def map_source(self, schema: str, table: str, view: str) -> "ModelRegistry":
        """Map a ``source('schema','table')`` to a catalog-visible name.

        Mirrors dbt's sources.yml: logical source → physical relation.
        """
        self._source_views[(schema, table)] = view
        return self

    def models(self) -> dict[str, Model]:
        return dict(self._models)

    # -- compilation --------------------------------------------------------

    def compile_sql(
        self, model: Model, persistent: bool = False, is_incremental: bool = False
    ) -> str:
        """Resolve {{source}} / {{ref}} / {{this}} placeholders.

        ``persistent`` resolves refs to schema-qualified names
        (``stg.stg_weather_hourly``) instead of flattened temp-view
        names, matching where ``run(persistent=True)`` builds them.
        ``is_incremental`` keeps the body of ``{% if is_incremental() %}``
        blocks (incremental runs); otherwise the block is stripped
        (first build / full refresh) — dbt's exact contract.
        """

        def sub_source(m: re.Match) -> str:
            key = (m.group(1), m.group(2))
            if key in self._source_views:
                return self._source_views[key]
            return f"{m.group(1)}_{m.group(2)}" if m.group(1) else m.group(2)

        def sub_ref(m: re.Match) -> str:
            name = m.group(1)
            if name not in self._models:
                raise KeyError(f"ref to unknown model {name!r}")
            target = self._models[name]
            return target.qualified_name if persistent else target.view_name

        sql = _INCR_RE.sub((lambda m: m.group(1)) if is_incremental else "", model.sql)
        sql = _THIS_RE.sub(
            model.qualified_name if persistent else model.view_name, sql
        )
        sql = _SOURCE_RE.sub(sub_source, sql)
        return _REF_RE.sub(sub_ref, sql)

    def topo_order(self, names: list[str]) -> list[str]:
        """Selected models plus their upstream refs, dependency-first."""
        ts: TopologicalSorter[str] = TopologicalSorter()
        seen: set[str] = set()
        stack = list(names)
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            refs = self._models[n].refs
            ts.add(n, *refs)
            stack.extend(refs)
        return [n for n in ts.static_order() if n in seen]

    # -- selection (dbt --select tag: / --exclude parity, O5) ---------------

    def select(self, tag: str | None = None, exclude: set[str] | None = None) -> list[str]:
        exclude = exclude or set()
        names = [
            m.name
            for m in self._models.values()
            if (tag is None or tag in m.tags) and m.name not in exclude
        ]
        return names

    # -- build --------------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        tag: str | None = None,
        exclude: set[str] | None = None,
        persistent: bool = False,
    ) -> dict[str, DataFrame]:
        """Build the selected models, dependency-first.

        Like ``dbt run``: ``view`` models are lazy (no data moves;
        Catalyst optimizes the composed plan at query time), while
        ``table`` / ``incremental`` models materialize physically via
        :meth:`_build_physical`.

        ``persistent=False`` (default) builds session-scoped temp views
        named ``<schema>_<name>``. ``persistent=True`` builds
        ``CREATE OR REPLACE VIEW`` in real catalog schemas
        (``stg.<name>`` / ``marts.<name>``) — with a metastore-backed
        session (``get_spark(warehouse_dir=...)``) these survive
        restarts, the true parity with dbt's Postgres views. Persistent
        views cannot reference temp views, so every mapped source must
        itself be catalog-visible (a table or persistent view).
        """
        built: dict[str, DataFrame] = {}
        for name in self.topo_order(self.select(tag, exclude)):
            model = self._models[name]
            if model.materialized in ("table", "incremental"):
                if not persistent:
                    raise ValueError(
                        f"model {model.name!r} is materialized="
                        f"{model.materialized!r}, which needs a metastore-"
                        "backed session — call run(persistent=True) with "
                        "get_spark(warehouse_dir=...)"
                    )
                built[model.qualified_name] = self._build_physical(spark, model)
            elif persistent:
                sql = self.compile_sql(model, persistent=True)
                if model.schema:
                    spark.sql(f"CREATE DATABASE IF NOT EXISTS {model.schema}")
                spark.sql(f"CREATE OR REPLACE VIEW {model.qualified_name} AS {sql}")
                df = spark.table(model.qualified_name)
                built[model.qualified_name] = df
            else:
                sql = self.compile_sql(model, persistent=False)
                df = spark.sql(sql)
                df.createOrReplaceTempView(model.view_name)
                built[model.view_name] = df
        return built

    def _build_physical(self, spark: SparkSession, model: Model) -> DataFrame:
        """Build a ``table`` / ``incremental`` model in the catalog.

        ``table``: full rebuild (CTAS-overwrite) every run.
        ``incremental``: first run is a CTAS with the is_incremental()
        block stripped; later runs evaluate only the model SQL (whose
        incremental block typically filters the source against
        ``{{ this }}``'s high-water mark), then
        - merge on ``unique_key``: existing rows whose keys reappear are
          replaced (anti-join + union over a catalog table), or
        - append when no key is given (dbt's append strategy).

        Scale: the incremental branch reads the existing table once for
        the anti-join, shuffled on the key. For date-partitioned marts
        prefer keying the model on the partition column so the anti-join
        prunes to touched partitions; on Delta/Iceberg this whole branch
        collapses into native MERGE. The merged result is
        localCheckpoint'ed before the overwrite because Spark cannot
        overwrite a table it is still lazily reading from.
        """
        if model.schema:
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {model.schema}")
        q = model.qualified_name
        exists = spark.catalog.tableExists(q)
        if model.materialized == "table" or not exists:
            df = spark.sql(self.compile_sql(model, persistent=True, is_incremental=False))
            df.write.mode("overwrite").format("parquet").saveAsTable(q)
            return spark.table(q)
        new = spark.sql(self.compile_sql(model, persistent=True, is_incremental=True))
        if model.unique_key:
            keys = list(model.unique_key)
            existing = spark.table(q)
            kept = existing.join(new.select(*keys).distinct(), keys, "left_anti")
            merged = kept.select(*new.columns).unionByName(new).localCheckpoint(eager=True)
            merged.write.mode("overwrite").format("parquet").saveAsTable(q)
        else:
            new.write.mode("append").format("parquet").saveAsTable(q)
        return spark.table(q)
