"""Dictionary encode/decode as DataFrame joins.

The reference keeps the dictionary as a driver-side HashMap and probes it per
output cell inside a broadcast closure (PartitionQueryingSubject.java:63-70,
115, 136-151) — a hand-rolled broadcast hash join that cannot scale past
driver memory. Here the dictionary is a DataFrame and decode/encode are
joins; Catalyst broadcasts automatically under autoBroadcastJoinThreshold,
and we add an explicit ``F.broadcast`` hint when the caller asserts the
dictionary is small (J5).

Constant lookups for the SPARQL translator (a handful of terms per query)
are a targeted ``filter(...).collect()`` — bounded by query size, never by
data size.

Id 0 is reserved: the translator's variable sentinel (MyOpVisitorBase.java:74-78).
``validate()`` enforces it plus id/term uniqueness at load time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DictionaryError(ValueError):
    pass


class Dictionary:
    """A term dictionary ``(id: long, term: string)`` backed by a DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        broadcast_hint: bool = True,
        sv_df: DataFrame | None = None,
    ):
        self.df = df.select(
            F.col("id").cast("long").alias("id"), F.col("term").alias("term")
        )
        self.broadcast_hint = broadcast_hint
        # Optional pre-derived STR-value relation ``(id, term, __sv)`` —
        # the §17.4.2.5 unquote/unescape chain evaluated ONCE (typically
        # persisted by the raw-RDF ingest) instead of per term-attach
        # join: every lexical-store attach re-derived it over |dict|
        # rows per action before r13. The planner's ``_dict_relation``
        # reads it when present; ``None`` keeps the derive-on-attach
        # path (externally built dictionaries).
        self.sv_df = sv_df

    def _dict_side(self) -> DataFrame:
        return F.broadcast(self.df) if self.broadcast_hint else self.df

    def validate(self) -> None:
        """One aggregation pass: no id 0, ids unique, terms unique."""
        row = self.df.agg(
            F.count("*").alias("n"),
            F.count_distinct("id").alias("n_ids"),
            F.count_distinct("term").alias("n_terms"),
            F.sum((F.col("id") == 0).cast("long")).alias("zeros"),
        ).first()
        if row["zeros"]:
            raise DictionaryError("dictionary contains reserved id 0 (variable sentinel)")
        if row["n_ids"] != row["n"]:
            raise DictionaryError("dictionary ids are not unique")
        if row["n_terms"] != row["n"]:
            raise DictionaryError("dictionary terms are not unique (term→id not functional)")

    def lookup_terms(self, terms: list[str]) -> dict[str, int]:
        """Non-raising bounded lookup (term → id): terms absent from the
        dictionary are simply missing from the result. FILTER term-equality
        uses this — a literal no triple can contain constant-folds rather
        than erroring (the query is legal, its match set is empty)."""
        if not terms:
            return {}
        rows = self.df.filter(F.col("term").isin(list(terms))).collect()
        return {r["term"]: r["id"] for r in rows}

    def append_terms(
        self, terms: list[str], negative_when=None
    ) -> tuple["Dictionary", dict[str, int]]:
        """Append query-sized ``terms`` (ones the dictionary lacks) through
        ``sources/ntriples.extend_dictionary`` — existing ids untouched,
        new ids deterministic. Returns the extended Dictionary and the
        new terms' ids. One bounded collect; the rank caches it persists
        are released right after, and the new rows join the lineage as
        a JVM-local relation."""
        from rdfproject_msc_spark.session import local_relation
        from rdfproject_msc_spark.sources.ntriples import extend_dictionary

        spark = self.df.sparkSession
        parsed = local_relation(
            spark,
            [(t, t, t) for t in terms],
            "s_term string, p_term string, o_term string",
        )
        caches: list = []
        try:
            fresh = extend_dictionary(
                self.df, parsed, negative_when=negative_when, caches=caches
            ).collect()
        finally:
            for c in caches:
                c.unpersist()
        ids = {r["term"]: int(r["id"]) for r in fresh}
        rows = sorted((i, t) for t, i in ids.items())
        ext = self.df.unionAll(
            local_relation(spark, rows, "id long, term string")
        )
        return Dictionary(ext, broadcast_hint=self.broadcast_hint), ids

    def encode_terms(self, terms: list[str]) -> dict[str, int]:
        """Bounded driver-side lookup for SPARQL constants (term → id).

        Replaces the reference's full reverse HashMap (MyOpVisitorBase.java:56-66)
        with a filter over the distributed dictionary — O(|terms|) result size.
        """
        if not terms:
            return {}
        found = self.lookup_terms(terms)
        missing = set(terms) - set(found)
        if missing:
            raise DictionaryError(f"terms not in dictionary: {sorted(missing)}")
        return found

    def decode(self, df: DataFrame, columns: list[str] | None = None) -> DataFrame:
        """Replace each id column with its term via per-column joins (J5).

        Column ``c`` becomes string column ``c`` (term); unmatched ids decode
        to NULL (left join), matching the reference's map.get() semantics.
        Non-integer columns (STR/LANG/aggregate BIND targets — already
        VALUES, not ids) pass through untouched: joining the dictionary on
        them would be a silent mis-decode (and an ANSI cast error first).
        """
        integral = {
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("long", "integer", "short", "byte")
        }
        columns = [c for c in (columns or df.columns) if c in integral]
        out = df
        for c in columns:
            d = self._dict_side().withColumnRenamed("id", f"__id_{c}").withColumnRenamed(
                "term", f"__term_{c}"
            )
            out = out.join(d, out[c] == d[f"__id_{c}"], "left")
            out = out.withColumn(c, F.col(f"__term_{c}")).drop(f"__id_{c}", f"__term_{c}")
        return out

    def encode(
        self,
        df: DataFrame,
        columns: list[str] | None = None,
        *,
        source_col: str | None = None,
        target_col: str | None = None,
    ) -> DataFrame:
        """Term → id via joins (inverse of decode).

        Two forms:
        - ``encode(df, columns=[...])`` replaces each named term column with
          its id in place;
        - ``encode(df, source_col="term", target_col="id")`` keeps the term
          column and ADDS the id as a new column (no placeholder-column
          tricks needed by callers that want both).
        Unmatched terms encode to NULL (left join) in both forms.
        """
        if source_col is not None or target_col is not None:
            if not (source_col and target_col):
                raise ValueError("source_col and target_col must be given together")
            if columns is not None:
                raise ValueError("columns and source_col/target_col are exclusive")
            d = (
                self._dict_side()
                .withColumnRenamed("term", "__enc_term")
                .withColumnRenamed("id", target_col)
            )
            return (
                df.join(d, df[source_col] == d["__enc_term"], "left")
                .drop("__enc_term")
            )
        columns = columns or df.columns
        out = df
        for c in columns:
            d = self._dict_side().withColumnRenamed("id", f"__id_{c}").withColumnRenamed(
                "term", f"__term_{c}"
            )
            out = out.join(d, out[c] == d[f"__term_{c}"], "left")
            out = out.withColumn(c, F.col(f"__id_{c}")).drop(f"__id_{c}", f"__term_{c}")
        return out
