"""Dictionary encoding: RDF term string <-> 63-bit positive long id.

Scheme mirrors the reference (core/.../dictionary/Dictionary.scala:34-37):

    id = xxhash64(term_bytes) & Long.MaxValue

with a collision-exception path for distinct strings that hash to the
same id (reference: Dictionary.scala:187-211 allocates sequential ids
from an AtomicLong; a distributed engine cannot cheaply hand out a
global counter, so we deterministically re-salt the hash instead —
same observable contract: every distinct string gets a unique positive
id, the first-seen/lexicographically-smallest string keeps the raw
hash id).

Blank nodes: the reference gives blank nodes ids with *no* dictionary
entry and synthesizes ``_:$id`` on decode (Dictionary.scala:103-119).
We store blank-node labels (``_:x``) as ordinary dictionary terms —
round-trip behavior is identical within a load session — and keep the
reference's decode fallback ``coalesce(value, '_:' || id)`` for ids
absent from the dictionary.

Spark-first notes:
- encode is a pure map (the id is the term hash, see `encode_col`);
  decode is a *join* against the dict DataFrame, not an RPC. The decode
  join shuffles the dictionary and never broadcasts it, so the shuffle
  is shared by every decode of a query and no cached plan pins a
  hashed copy of the dictionary; at 100 TB a store-backed dictionary
  decodes through its id-bucketed layout instead (`with_values`).
- ``F.xxhash64`` is the same XXH64 family the reference uses via
  net.openhft; seed 42 (Spark's default). Ids therefore differ from
  the reference numerically — irrelevant, ids never leave the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from graphula_spark import batch as batch_mod

#: Long.MaxValue mask — keeps ids positive (reference: Dictionary.scala:36)
HASH_MASK = (1 << 63) - 1

DICT_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("value", StringType(), False),
    ]
)


def term_id_col(col):
    """Column expression for the primary (pre-collision-check) id."""
    return F.xxhash64(col).bitwiseAND(F.lit(HASH_MASK))


class Dictionary:
    """An immutable (id, value) mapping as a DataFrame.

    Reference parity: core/.../dictionary/Dictionary.scala
    (add:144-161, apply(String):125-139, apply(Long):103-119).
    """

    def __init__(
        self,
        spark: SparkSession,
        df: DataFrame,
        bucketed_df: DataFrame | None = None,
        id_buckets: int | None = None,
        exceptions: list[tuple[str, int]] | None = None,
    ):
        self.spark = spark
        self.df = df
        # optional id-bucketed parquet view (persisted stores): decode
        # joins include the partition column so Spark's dynamic partition
        # pruning reads only the buckets the result ids actually hit —
        # the 100 TB-dictionary decode path (see with_values)
        self.bucketed_df = bucketed_df
        self.id_buckets = id_buckets
        # driver-side memo for query-constant resolution: query planning
        # repeatedly resolves a handful of constants; caching avoids one
        # Spark job per query (negative results cached as None)
        self._term_cache: dict[str, int | None] = {}
        self._nrows: int | None = None
        # (value, id) pairs whose id is NOT the raw term hash — the
        # collision re-salt exceptions (reference: Dictionary.scala's
        # exception map, :187-211). None = unknown, computed lazily;
        # False = pathologically many, encode falls back to join.
        self._exceptions: list[tuple[str, int]] | None | bool = exceptions

    #: store-backed dictionaries from this row count up decode through
    #: their id-bucketed parquet layout (see `with_values`); below it,
    #: and for dictionaries without that layout, decode is a plain
    #: shuffle-hash join against `df`
    BUCKETED_DECODE_MIN_ROWS = 5_000_000

    def _bucketed_decode(self) -> bool:
        """Whether decode joins take the id-bucketed branch: the layout
        exists and the dictionary has BUCKETED_DECODE_MIN_ROWS rows."""
        if self.bucketed_df is None or not self.id_buckets:
            return False
        if self._nrows is None:
            self._nrows = self.df.count()
        return self._nrows >= Dictionary.BUCKETED_DECODE_MIN_ROWS

    @classmethod
    def empty(cls, spark: SparkSession) -> "Dictionary":
        from graphula_spark.literal import empty_df

        return cls(spark, empty_df(spark, "id long, value string"), exceptions=[])

    @staticmethod
    def _assign_ids(
        terms: DataFrame,
        existing: DataFrame | None,
        max_rounds: int = 12,
    ) -> tuple[DataFrame, bool]:
        """Assign a unique id to every term in `terms` (one 'value'
        column, distinct, non-null), disjoint from `existing` ids.

        Shared by build and incremental union (the round-1 union clash
        path used a single fixed salt and never verified post-salt
        uniqueness). Iterated ranked re-salting: per round, ids that are
        duplicated within the set or taken by an existing entry are
        re-hashed with a (round, rank) salt; the lexicographically
        smallest holder of a free id keeps it. Collisions are ~2^-63 in
        the real 63-bit space, so the happy path is exactly one cheap
        emptiness probe over a count aggregate — the window only ever
        runs over the (tiny) collided subset.

        Returns (df, clean): clean=True means NO term was re-salted —
        every id is the raw term hash, so the caller can record an
        empty collision-exception list without any extra scan.

        The id-clash probe streams the existing ids past the batch's
        ids: the batch is persisted (its source counted), so the
        planner sizes it and broadcasts it when it fits, and an
        incremental union does not shuffle the existing dictionary.
        """
        from pyspark import StorageLevel

        from graphula_spark.scratch import track

        result = track(
            terms.withColumn("id", term_id_col(F.col("value"))).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
        # the collision probe below materializes the full (id, value)
        # set; persisting it means the store write / decode joins reuse
        # that computation instead of re-scanning + re-shuffling the
        # source terms — one pass over the data, not two (spills rather
        # than recomputes at 100 TB)
        #
        # existing ids are UNIQUE by the dictionary invariant (this very
        # function guarantees it) — the old .distinct() here reshuffled
        # the whole dictionary on every incremental union for nothing
        ex_ids = existing.select("id") if existing is not None else None
        for rnd in range(max_rounds):
            dup_ids = (
                result.groupBy("id")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > 1)
                .select("id")
            )
            bad_ids = dup_ids
            if ex_ids is not None:
                # output ids are unique: they come from ex_ids
                clash_ids = ex_ids.join(result.select("id"), "id", "left_semi")
                bad_ids = dup_ids.unionByName(clash_ids).distinct()
            if bad_ids.isEmpty():
                return result.select("id", "value"), rnd == 0
            bad = result.join(F.broadcast(bad_ids), "id", "left_semi")
            good = result.join(F.broadcast(bad_ids), "id", "left_anti")
            if ex_ids is not None:
                # only the existing ids IN the collided set matter, and
                # that set is tiny — semi-reduce ex_ids first instead of
                # shuffling the whole dictionary into the left join
                ex_hits = ex_ids.join(
                    F.broadcast(bad_ids), "id", "left_semi"
                ).withColumn("__ex", F.lit(1))
                bad = bad.join(F.broadcast(ex_hits), "id", "left")
            else:
                bad = bad.withColumn("__ex", F.lit(None).cast("int"))
            w = Window.partitionBy("id").orderBy("value")
            resalted = (
                bad.withColumn("rank", F.row_number().over(w))
                .withColumn(
                    "id",
                    F.when(
                        (F.col("rank") == 1) & F.col("__ex").isNull(),
                        F.col("id"),
                    ).otherwise(
                        term_id_col(
                            F.concat(
                                F.col("value"),
                                F.lit("\x01"),
                                F.lit(f"{rnd}:"),
                                F.col("rank").cast("string"),
                            )
                        )
                    ),
                )
                .select("id", "value")
            )
            # Only reached when a collision actually exists (~2^-63 per
            # pair in production). Eagerly truncate lineage so repeated
            # rounds don't stack window+join stages into one deep plan.
            prev = result
            result = good.select("id", "value").unionByName(resalted).localCheckpoint()
            prev.unpersist()
        raise RuntimeError(
            f"dictionary id assignment did not converge in {max_rounds} rounds"
        )

    @classmethod
    def build(cls, spark: SparkSession, terms: DataFrame) -> "Dictionary":
        """Build a dictionary from a one-column DataFrame of term strings.

        Collision handling via `_assign_ids` (ranked deterministic
        re-salting). The empty string is always a valid entry (the
        reference pre-seeds it, Dictionary.scala:66-76).
        """
        col = terms.columns[0]
        distinct = (
            terms.select(F.col(col).alias("value"))
            .where(F.col("value").isNotNull())
            .distinct()
        )
        assigned, clean = cls._assign_ids(distinct, None)
        return cls(spark, assigned, exceptions=[] if clean else None)

    def new_terms(self, other_terms: DataFrame) -> tuple[DataFrame, bool]:
        """The (id, value) entries for the terms of `other_terms` (first
        column) that this dictionary lacks, and whether every one of
        them kept its raw term hash as its id (see `_assign_ids`).

        Fresh ids are assigned with the same iterated ranked-salt scheme
        as build, with the existing id set excluded — post-salt
        uniqueness is guaranteed by the fixed point, not assumed. The
        batch is deduped, persisted and counted, and
        `batch.minus_stored` finds its unseen terms with the dictionary
        streaming."""
        from pyspark import StorageLevel

        from graphula_spark.scratch import track

        cand = track(
            other_terms.select(F.col(other_terms.columns[0]).alias("value"))
            .where(F.col("value").isNotNull())
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        unseen = batch_mod.minus_stored(cand, cand.count(), self.df, ["value"])
        return Dictionary._assign_ids(unseen, self.df)

    def union(self, other_terms: DataFrame) -> "Dictionary":
        """Extend with new terms (incremental load); existing ids stable
        (`new_terms`)."""
        fresh, clean = self.new_terms(other_terms)
        exc = None
        if clean and isinstance(self._exceptions, list):
            exc = list(self._exceptions)
        return Dictionary(self.spark, self.df.unionByName(fresh), exceptions=exc)

    # -- encode ----------------------------------------------------------
    #: collected-exception safety valve: past this many collision
    #: re-salts (never happens with 63-bit hashing short of adversarial
    #: input), encode falls back to the full dictionary join
    EXC_MAX_ROWS = 1_000_000

    def _get_exceptions(self) -> list[tuple[str, int]] | None:
        """The (value, id) pairs whose id differs from the raw term hash
        — the collision re-salts. ~0 entries by 63-bit hashing; None
        signals a pathological count (encode then join-falls-back)."""
        if self._exceptions is False:
            return None
        if self._exceptions is None:
            rows = (
                self.df.where(term_id_col(F.col("value")) != F.col("id"))
                .limit(Dictionary.EXC_MAX_ROWS + 1)
                .collect()
            )
            if len(rows) > Dictionary.EXC_MAX_ROWS:
                self._exceptions = False
                return None
            self._exceptions = [(r["value"], r["id"]) for r in rows]
        return self._exceptions

    def encode_col(self, df: DataFrame, col: str, out: str) -> DataFrame:
        """Encode one string column to its id column — a PURE MAP, not a
        join: id = xxhash64(term) by construction, patched by a
        broadcast of the (tiny, usually empty) collision-exception set.
        This is the reference's hash-is-the-id contract
        (Dictionary.scala:34-37 + exception map :187-211) and the reason
        a 100 TB load never shuffles its triples against the dictionary.

        Terms absent from the dictionary encode to their would-be hash
        id, which matches nothing in the graph (2^-63 collision odds) —
        same observable semantics as the former NULL encoding for the
        delete/probe paths. Query constants resolve through
        `lookup_terms` instead and still report missing terms exactly
        (unknown constant ⇒ empty result,
        reference: GraphulaStageGenerator.scala:61-68).
        """
        exc = self._get_exceptions()
        if exc is None:
            # pathological collision volume: full join-encode fallback
            d = self.df.select(F.col("value").alias(col), F.col("id").alias(out))
            return df.join(d, col, "left")
        raw = F.when(
            F.col(col).isNull(), F.lit(None).cast(LongType())
        ).otherwise(term_id_col(F.col(col)))
        if not exc:
            return df.withColumn(out, raw)
        from graphula_spark.literal import literal_df

        patch = F.broadcast(
            literal_df(
                self.spark, [(i, v) for (v, i) in exc], "id long, value string"
            ).select(
                F.col("value").alias(col), F.col("id").alias(f"__exc_{out}")
            )
        )
        return (
            df.join(patch, col, "left")
            .withColumn(out, F.coalesce(F.col(f"__exc_{out}"), raw))
            .drop(f"__exc_{out}")
        )

    def lookup_terms(self, terms: list[str]) -> dict[str, int]:
        """Driver-side lookup of a handful of constants (query planning).

        This is the 'resolve constants through the dictionary' step of
        the reference stage bridge (GraphulaStageGenerator.scala:61-68);
        constants per query are few, so a collected filter join is fine.
        """
        if not terms:
            return {}
        missing = [t for t in set(terms) if t not in self._term_cache]
        if missing:
            rows = (
                self.df.where(F.col("value").isin(missing))
                .select("value", "id")
                .collect()
            )
            found = {r["value"]: r["id"] for r in rows}
            for t in missing:
                self._term_cache[t] = found.get(t)
        return {
            t: self._term_cache[t]
            for t in set(terms)
            if self._term_cache.get(t) is not None
        }

    # -- decode ----------------------------------------------------------
    def with_values(self, df: DataFrame, col: str, out: str) -> DataFrame:
        """Left-join the id column `col` of `df` to its term string,
        added as column `out`; `col` is kept. The one decode join.

        Ids missing from the dict decode as blank nodes ``_:<id>``
        (reference: Dictionary.scala:103-119).

        The dictionary side carries a ``shuffle_hash`` hint and is never
        broadcast. Its shuffle is the same plan for every decode, so all
        decodes of one query share one dictionary Exchange (the later
        ones plan as ``ReusedExchange``), and a cached query plan holds
        no hashed copy of the dictionary.

        Past ``BUCKETED_DECODE_MIN_ROWS``, a store-backed dictionary
        joins through its id-bucketed parquet layout instead: the join
        key includes the partition column (a pure function of the id),
        so dynamic partition pruning restricts the dictionary scan to
        the buckets present in the (small) result.
        """
        if self._bucketed_decode():
            d = self.bucketed_df.select(
                F.col("id").alias(col),
                F.col("id_bucket").alias("__dec_b"),
                F.col("value").alias(out),
            )
            joined = (
                df.withColumn(
                    "__dec_b", F.pmod(F.col(col), F.lit(self.id_buckets))
                )
                .join(d, [col, "__dec_b"], "left")
                .drop("__dec_b")
            )
        else:
            d = self.df.select(
                F.col("id").alias(col), F.col("value").alias(out)
            ).hint("shuffle_hash")
            joined = df.join(d, col, "left")
        return joined.withColumn(
            out,
            F.coalesce(
                F.col(out), F.concat(F.lit("_:"), F.col(col).cast("string"))
            ),
        )

    def decode_col(self, df: DataFrame, col: str, out: str | None = None) -> DataFrame:
        """Replace the id column `col` with its term string, named `out`
        (default `col`), through `with_values`. This is the *late
        materialization* boundary — call only on final results
        (reference keeps LazyBinding ids until asked,
        core/.../LazyBinding.scala:13-28)."""
        tmp = f"__dec_{col}"
        return (
            self.with_values(df, col, tmp)
            .drop(col)
            .withColumnRenamed(tmp, out or col)
        )
