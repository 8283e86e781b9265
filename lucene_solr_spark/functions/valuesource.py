"""Solr function-query (ValueSource) surface: a parser for the function
syntax plus Column builders for the function vocabulary.

Ref: solr/core/src/java/org/apache/solr/search/ValueSourceParser.java
(the ~74 registered parsers) and lucene/queries/.../function/valuesource/
(ReciprocalFloatFunction.java: a/(m·x+b), LinearFloatFunction.java,
ScaleFloatFunction.java, DualFloatFunction.java, ...).  Everything maps
to JVM column expressions — whole-stage codegen, no UDFs; ``scale``
needs the field's global min/max, supplied via a one-row cross join
(the reference computes the same pair in ScaleFloatFunction.createWeight).

Supported names (arity): const literals, field refs, abs, ceil, floor,
sqrt, ln, log, exp, pow(2), sum(n), sub(2), product(n), div(2), mod(2),
min(n), max(n), recip(4), linear(3), map(4), scale(3: uses min/max over
df), if(3), exists(1), not(1), and/or(n), xor(2), gt/lt/gte/lte/eq(2),
true/false (bare or 0-arg), pi(), e(), def(2: coalesce), field(1-2:
min|max over multivalued), vector(n), sqedist(2n), dist(1+2n p-norm),
geodist(4: haversine km), hsin(6: radius, isDegrees, x1,y1,x2,y2),
strdist(2-3: edit-distance similarity), ms(1-2: millis since epoch /
between timestamps), ord/rord(1: ordinal in the sorted value dictionary
— the dictionary is collected like the reference's per-segment terms
dict; needs df context), maxdoc()/numdocs()/totaltermfreq(2)/
sumtotaltermfreq(1) (need index-tables context via ``tables=``).
geohash(2: encode lat/lon → 12-char cell), ghhsin(3: haversine between
two geohash cell centers on a given-radius sphere).
termfreq/docfreq/idf/norm live in the searcher layer (per-doc index
state).  Also implemented below: currency(field[,CODE])
(CurrencyField.java ConvertedCurrencyValueSource + convertAmount,
rates from the example currency.xml), childfield(field[,max|min])
(block-join child rollup), joindf(field, qfield) (per-doc term →
docFreq in the indexed field's terms dict, broadcast dictionary
join), query("sub"[,default]) (QueryValueSource — embedded-query
score per doc via searcher= context), and payload(field, value
[,default[,min|max|average|first]]) (FloatPayloadValueSource via
payloads= context).  boost(q, f) is product(query(q), f) / the
{!boost} QParser.  The ValueSourceParser vocabulary carries no
remaining documented exclusions; agg_* are the facet aggregates
(facet_metrics / facet_hll gates).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0087714  # GeoDistanceFunction / GeoUtils mean radius


def geodist_km(lat1, lon1, lat2, lon2) -> Column:
    """Haversine great-circle distance in km (solr GeoDistValueSourceParser
    → SpatialUtils; the classic haversine form)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


# Geohash (GeohashFunction.java / GeohashHaversineFunction.java via
# spatial4j GeohashUtils — the public geohash spec: base-32 alphabet,
# lon-first bit interleave, 12-char default precision).  Both encode
# and decode are pure column expressions: the bisection loop of the
# textbook encoder is equivalent to taking the top 30 bits of the
# scaled offset ((lat+90)/180 · 2^30), so the whole thing unrolls into
# static bit arithmetic that whole-stage codegen compiles — no UDF.
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_PRECISION = 12  # spatial4j GeohashUtils default for encodeLatLon


def geohash_encode(lat, lon) -> Column:
    """geohash(lat, lon) → 12-char geohash string."""
    two30 = float(1 << 30)
    lat_code = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * two30).cast("long"),
        F.lit((1 << 30) - 1),
    )
    lon_code = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * two30).cast("long"),
        F.lit((1 << 30) - 1),
    )
    alpha = F.array(*[F.lit(c) for c in GEOHASH_ALPHABET])
    chars = []
    # 12 chars × 5 bits; even bit positions (MSB-first) come from lon
    for ci in range(GEOHASH_PRECISION):
        digit = F.lit(0).cast("long")
        for bi in range(5):
            pos = ci * 5 + bi  # global bit position, 0 = MSB
            src, idx = (lon_code, pos // 2) if pos % 2 == 0 else (lat_code, pos // 2)
            bit = F.shiftright(src, 29 - idx).bitwiseAND(F.lit(1))
            digit = digit + F.shiftleft(bit, 4 - bi)
        chars.append(F.element_at(alpha, (digit + 1).cast("int")))
    return F.concat(*chars)


def _geohash_decode(gh) -> tuple[Column, Column]:
    """Geohash string → (lat, lon) cell-center, any length ≤ 12
    (GeohashUtils.decode returns the cell midpoint).

    Flat closed form, NOT a fold: with L chars the global bit at
    position p (0 = MSB) carries weight 2^(bits_axis − 1 − ⌊p/2⌋) on
    its axis, so the code value is a SUM of independent per-bit terms.
    (A when(...)-chained accumulator would reference itself twice per
    bit — a 2^60-node expression tree; this form is linear and
    codegen-friendly.)"""
    alpha = F.array(*[F.lit(c) for c in GEOHASH_ALPHABET])
    nbits = F.length(gh).cast("int") * 5
    lon_bits = ((nbits + 1) / 2).cast("int")  # even positions, lon first
    lat_bits = (nbits / 2).cast("int")
    lat_val: Column = F.lit(0.0)
    lon_val: Column = F.lit(0.0)
    for ci in range(GEOHASH_PRECISION):
        has = F.length(gh) > ci
        # array_position is 1-based (0 = absent); alphabet chars are
        # unique so value = pos − 1
        digit = (
            F.array_position(alpha, F.substring(gh, ci + 1, 1)) - 1
        ).cast("long")
        for bi in range(5):
            pos = ci * 5 + bi
            bit = F.when(
                has, F.shiftright(digit, 4 - bi).bitwiseAND(F.lit(1))
            ).otherwise(F.lit(0))
            axis_idx = pos // 2  # 0-based bit index on its axis, MSB first
            if pos % 2 == 0:
                w = F.pow(F.lit(2.0), (lon_bits - 1 - axis_idx).cast("double"))
                lon_val = lon_val + bit.cast("double") * w
            else:
                w = F.pow(F.lit(2.0), (lat_bits - 1 - axis_idx).cast("double"))
                lat_val = lat_val + bit.cast("double") * w
    lat = F.lit(-90.0) + F.lit(180.0) * (lat_val + 0.5) / F.pow(
        F.lit(2.0), lat_bits.cast("double")
    )
    lon = F.lit(-180.0) + F.lit(360.0) * (lon_val + 0.5) / F.pow(
        F.lit(2.0), lon_bits.cast("double")
    )
    return lat, lon


def ghhsin_dist(radius, gh1, gh2) -> Column:
    """ghhsin(radius, gh1, gh2): haversine between two geohash cell
    centers on a sphere of ``radius`` (GeohashHaversineFunction.java:
    decode both, DistanceUtils.distHaversineRAD · radius)."""
    lat1, lon1 = _geohash_decode(gh1)
    lat2, lon2 = _geohash_decode(gh2)
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    h = (
        F.sin((rlat2 - rlat1) / 2) ** 2
        + F.cos(rlat1) * F.cos(rlat2) * F.sin((F.radians(lon2) - F.radians(lon1)) / 2) ** 2
    )
    return 2 * radius * F.asin(F.sqrt(h))


def strdist_edit(a, b) -> Column:
    """strdist(a, b, edit): 1 − levenshtein/max(len) (solr
    StrDistValueSourceParser → LuceneLevenshteinDistance-style
    normalization)."""
    ml = F.greatest(F.length(a), F.length(b))
    return F.when(ml == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / ml.cast("double")
    )


# ord()/rord() dictionary memo: (source-plan semanticHash, field,
# reverse) → persisted ranked-dictionary frame.  Bounds executor
# storage at one cached frame per distinct dictionary per session
# (instead of one per evaluation) and makes repeated function-query
# evaluation reuse the rank job entirely.
_ORD_CACHE: dict = {}


def clear_ordinal_cache() -> None:
    """Unpersist and forget every memoized ord()/rord() dictionary."""
    for frame in _ORD_CACHE.values():
        try:
            frame.unpersist()
        except Exception:
            pass
    _ORD_CACHE.clear()


class _Parser:
    _TOK = re.compile(r'\s*([A-Za-z_][\w.]*|-?\d+\.?\d*(?:[eE]-?\d+)?|"[^"]*"|[(),])')

    def __init__(
        self, text: str, df: DataFrame | None, tables=None, searcher=None,
        payloads=None, payload_field=None, join_qfield=None,
    ):
        self.toks: list[str] = []
        i = 0
        while i < len(text):
            m = self._TOK.match(text, i)
            if not m:
                raise ValueError(f"bad function query at {text[i:]!r}")
            self.toks.append(m.group(1))
            i = m.end()
        self.pos = 0
        self.df = df
        self.tables = tables  # IndexTables for maxdoc/numdocs/ttf/sttf
        self.searcher = searcher  # IndexSearcher for query(subquery)
        self.payloads = payloads  # payload postings for payload(field, term)
        # one payloads= frame serves ONE field (likewise one tables=
        # frame serves one joindf qfield): the caller may declare which
        # (payload_field= / join_qfield=), and regardless, the first
        # payload()/joindf() call binds the field so a second call
        # naming a DIFFERENT field raises instead of silently reading
        # the same frame.
        self.payload_field = payload_field
        self.join_qfield = join_qfield
        # (dict_frame, join_key) pairs queued by ord()/rord() — the
        # caller (apply_function_query) broadcast-joins them onto df
        self.joins: list[tuple[DataFrame, str]] = []

    def peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of function query")
        self.pos += 1
        return t

    def expr(self) -> Column:
        t = self.next()
        if re.fullmatch(r"-?\d+\.?\d*(?:[eE]-?\d+)?", t):
            return F.lit(float(t))
        if t.startswith('"'):
            return F.lit(t[1:-1])
        if t in ("true", "false") and self.peek() != "(":
            return F.lit(t == "true")
        if self.peek() == "(":
            self.next()
            if t.lower() in self._RAW_ARG_FNS:
                raw: list[str] = []
                while self.peek() != ")":
                    tok = self.next()
                    if tok != ",":
                        raw.append(tok[1:-1] if tok.startswith('"') else tok)
                self.next()  # consume )
                return self._call_raw(t.lower(), raw)
            args: list[Column] = []
            if self.peek() != ")":
                while True:
                    args.append(self.expr())
                    if self.peek() == ",":
                        self.next()
                        continue
                    break
            if self.next() != ")":
                raise ValueError(f"expected ) in {t}(...)")
            return self._call(t, args)
        return F.col(t)  # bare field reference

    # functions whose arguments are raw field names / keywords, not
    # sub-expressions (FieldValueSourceParser-style parsers take the
    # schema field name token directly)
    _RAW_ARG_FNS = {
        "field", "ord", "rord", "totaltermfreq", "sumtotaltermfreq",
        "currency", "childfield", "joindf", "query", "payload",
    }

    def _ordinals(self, field: str, reverse: bool = False) -> Column:
        """ord(field): 1-based ordinal of the doc's value in the sorted
        value dictionary (OrdFieldSource.java / ReverseOrdFieldSource).

        Distributed global rank without a global sort: the DISTINCT
        values are range-partitioned on the field (repartitionByRange's
        sampled range exchange), ranked WITHIN each partition (a
        partitioned window — every task sorts only its slice), and the
        per-partition row counts — one row per partition, bounded by
        the parallelism, never by the dictionary — are prefix-summed
        into partition offsets broadcast back onto the slices.  A
        1M-distinct field therefore never lands on a single task (the
        old unpartitioned ``Window.orderBy(field)`` did exactly that).
        Values are distinct so row_number == dense_rank.  The only
        driver round-trip is the ≤ #partitions count rows (the same
        bounded exchange assign_doc_ids uses) — never field values.
        The join is queued on ``self.joins`` and applied by
        apply_function_query.

        Cache lifecycle (ADVICE r4): the ranked dictionary frame is
        persisted ONCE per (source plan, field, direction) in a
        module-level memo — repeated function-query evaluation in one
        session reuses the same executor-cached frame instead of
        accumulating a new dictionary-sized copy per call; the
        intermediate per-partition-rank frame is unpersisted as soon
        as the dictionary materializes.  ``clear_ordinal_cache()``
        drops every memoized frame."""
        if self.df is None:
            raise ValueError("ord()/rord() need the DataFrame context")
        from pyspark.sql import Window

        name = f"__{'rord' if reverse else 'ord'}_{field}"
        if all(name not in d.columns for d, _ in self.joins):
            # keyed by applicationId too: a memoized frame must never
            # outlive its SparkSession (a later session would receive
            # a DataFrame bound to a stopped context); stale-session
            # entries are tiny driver-side handles whose executor
            # storage died with their session.  The input files are in
            # the key as well: an overwrite behind the same path keeps
            # the plan hash but writes new part-file names
            app_id = self.df.sparkSession.sparkContext.applicationId
            memo_key = (
                app_id,
                self.df.semanticHash(),
                tuple(sorted(self.df.inputFiles())),
                field,
                reverse,
            )
            cached = _ORD_CACHE.get(memo_key)
            if cached is None:
                # lazy purge: handles keyed to other application ids
                # belong to stopped sessions (their executor storage
                # is already gone) — drop them instead of accumulating
                for k in [k for k in _ORD_CACHE if k[0] != app_id]:
                    _ORD_CACHE.pop(k, None)
            if cached is not None:
                self.joins.append((cached, field))
                return F.col(name)
            spark = self.df.sparkSession
            nparts = max(int(spark.sparkContext.defaultParallelism), 1)
            distinct = (
                self.df.select(field)
                .filter(F.col(field).isNotNull())
                .distinct()
                .repartitionByRange(nparts, F.col(field))
                .withColumn("__pid", F.spark_partition_id())
            )
            local = distinct.withColumn(
                "__lr",
                F.row_number().over(
                    Window.partitionBy("__pid").orderBy(field)
                ),
            ).persist()
            # partition-count exchange: ≤ nparts rows to the driver,
            # prefix-summed in plain Python (an unpartitioned running-
            # sum window would re-introduce the single-task sort this
            # rewrite removes — Catalyst eliminates foldable partition
            # specs, so there is no warning-free window spelling)
            counts = local.groupBy("__pid").agg(F.count("*").alias("__c"))
            rows = sorted(
                ((r["__pid"], r["__c"]) for r in counts.collect())
            )
            total = sum(c for _, c in rows)
            offs_rows, acc = [], 0
            for pid, c in rows:
                offs_rows.append((pid, acc, total))
                acc += c
            offs = spark.createDataFrame(
                offs_rows, "__pid int, __off long, __n long"
            )
            dict_df = (
                local.join(F.broadcast(offs), "__pid")
                .select(
                    field,
                    (
                        (
                            F.col("__n")
                            + 1
                            - (F.col("__off") + F.col("__lr"))
                        )
                        if reverse
                        else (F.col("__off") + F.col("__lr"))
                    )
                    .cast("double")
                    .alias(name),
                )
                .persist()
            )
            # materialize the dictionary while `local` is hot, then
            # drop the intermediate — only the memoized dictionary
            # frame stays cached
            dict_df.count()
            local.unpersist()
            _ORD_CACHE[memo_key] = dict_df
            self.joins.append((dict_df, field))
        return F.col(name)

    def _call_raw(self, name: str, raw: list[str]) -> Column:
        if name == "field":
            # field(name) | field(name, min|max) for multivalued fields
            if len(raw) == 1:
                return F.col(raw[0])
            sel = raw[1].lower()
            if sel == "min":
                return F.array_min(F.col(raw[0]))
            if sel == "max":
                return F.array_max(F.col(raw[0]))
            raise ValueError(f"field() selector must be min|max, got {raw[1]!r}")
        if name == "ord":
            return self._ordinals(raw[0])
        if name == "rord":
            # reverse ordinal: #values + 1 − ord (ReverseOrdFieldSource)
            return self._ordinals(raw[0], reverse=True)
        if name == "payload":
            # payload(field, value[, default[, min|max|average|first]]):
            # ValueSourceParser.java:711-756 + FloatPayloadValueSource
            # .java:62-178 — per-doc PayloadFunction over the payloads
            # of ``value``'s occurrences in ``field``; default func is
            # "average", default value 0.0 for docs without the term.
            # Context: a payload-postings frame (queries/payloads.py)
            # joined per doc — the reference reads the same data from
            # the postings' payload stream.
            if self.payloads is None:
                raise ValueError("payload() needs payloads= context")
            if self.df is None:
                raise ValueError("payload() needs the DataFrame context")
            fld = raw[0]
            if self.payload_field is None:
                # bind on first use: the single payloads= frame serves
                # exactly one field
                self.payload_field = fld
            elif fld != self.payload_field:
                raise ValueError(
                    f"payload() field {fld!r} does not match the "
                    f"payloads= context field {self.payload_field!r} — "
                    "one payloads frame serves one field"
                )
            val = raw[1]
            default = float(raw[2]) if len(raw) > 2 else 0.0
            func = raw[3] if len(raw) > 3 else "average"
            if func not in ("min", "max", "average", "first"):
                raise ValueError(f"Invalid payload function: {func}")
            pay = F.col("payloads")
            if func == "average":
                agg = F.aggregate(
                    pay, F.lit(0.0), lambda a, x: a + x
                ) / F.size(pay)
            elif func == "min":
                agg = F.array_min(pay)
            elif func == "max":
                agg = F.array_max(pay)
            else:  # first: payloads are position-ordered
                agg = F.element_at(pay, 1)
            import hashlib

            key = hashlib.md5(f"{fld}|{val}|{func}".encode()).hexdigest()[:8]
            cname = f"__payload_{key}"
            if all(cname not in d.columns for d, _ in self.joins):
                frame = self.payloads.filter(F.col("term") == val).select(
                    "doc_id", agg.cast("double").alias(cname)
                )
                self.joins.append((frame, "doc_id"))
            return F.coalesce(F.col(cname), F.lit(default))
        if name == "query":
            # query("subquery" [, default]): QueryValueSource (lucene/
            # queries/.../valuesource/QueryValueSource.java:44-120) — the
            # doc's score under the embedded query, ``default`` (0.0)
            # where it does not match.  The score frame is queued as a
            # doc_id-keyed side join; gates broadcast it (bounded match
            # sets), at corpus scale it is a plain shuffled doc_id join.
            if self.searcher is None:
                raise ValueError("query() needs searcher= context")
            if self.df is None:
                raise ValueError("query() needs the DataFrame context")
            import hashlib

            from lucene_solr_spark.queries.parser import parse_query

            sub = raw[0]
            default = float(raw[1]) if len(raw) > 1 else 0.0
            cname = "__query_" + hashlib.md5(sub.encode()).hexdigest()[:8]
            if all(cname not in d.columns for d, _ in self.joins):
                scores = self.searcher.docs(parse_query(sub)).select(
                    F.col("doc_id"),
                    F.col("score").cast("double").alias(cname),
                )
                self.joins.append((scores, "doc_id"))
            return F.coalesce(F.col(cname), F.lit(default))
        if name == "joindf":
            # joindf(field, qfield): JoinDocFreqValueSource (lucene/
            # queries/.../valuesource/JoinDocFreqValueSource.java:39-85)
            # — the doc's term bytes from `field` doc-values, docFreq
            # looked up in `qfield`'s terms enum; a term seekExact
            # misses (or the doc has no value) → 0.  qfield resolves to
            # the indexed field whose term_stats ride in ``tables=``;
            # the terms dict is a broadcast dictionary join, never a
            # driver collect.
            if len(raw) != 2:
                raise ValueError("joindf(field, qfield) takes 2 args")
            if self.tables is None:
                raise ValueError("joindf() needs tables= context")
            if self.df is None:
                raise ValueError("joindf() needs the DataFrame context")
            fld, qfield = raw
            if self.join_qfield is None:
                # bind on first use: the single tables= term_stats frame
                # serves exactly one qfield
                self.join_qfield = qfield
            elif qfield != self.join_qfield:
                raise ValueError(
                    f"joindf() qfield {qfield!r} does not match the "
                    f"tables= context field {self.join_qfield!r} — one "
                    "term_stats frame serves one qfield"
                )
            cname = f"__joindf_{fld}"
            if all(cname not in d.columns for d, _ in self.joins):
                dict_df = self.tables.term_stats.select(
                    F.col("term").alias(fld),
                    F.col("df").cast("double").alias(cname),
                )
                self.joins.append((dict_df, fld))
            return F.coalesce(F.col(cname), F.lit(0.0))
        if name == "totaltermfreq":
            # totaltermfreq(field, term): Σ tf over all docs (constant)
            if self.tables is None:
                raise ValueError("totaltermfreq() needs tables= context")
            row = self.tables.term_stats.filter(
                F.col("term") == raw[-1]
            ).first()
            return F.lit(float(row["ttf"]) if row else 0.0)
        if name == "sumtotaltermfreq":
            # sumtotaltermfreq(field): Σ ttf over all terms — the
            # precomputed CollectionStats value (SumTotalTermFreqValueSource)
            if self.tables is None:
                raise ValueError("sumtotaltermfreq() needs tables= context")
            return F.lit(float(self.tables.stats.sum_total_term_freq))
        if name == "childfield":
            # childfield(field [, max|min]): for a parent doc, the
            # selected child's field value over its _root_ block —
            # ChildFieldValueSourceParser.java / ToParentBlockJoinSortField
            # (ascending sort selects the child MIN, descending the MAX;
            # both exposed via the selector).  Queued as a grouped
            # child-side aggregate broadcast-joined on doc_id, the same
            # side-relation mechanism as ord()/rord().
            if self.df is None:
                raise ValueError("childfield() needs the DataFrame context")
            if "_root_" not in self.df.columns:
                raise ValueError(
                    "childfield() needs a _root_ block-root column"
                )
            fld = raw[0]
            sel = (raw[1] if len(raw) > 1 else "max").lower()
            if sel not in ("min", "max"):
                raise ValueError(
                    f"childfield() selector must be min|max, got {raw[1]!r}"
                )
            cname = f"__childfield_{sel}_{fld}"
            if all(cname not in d.columns for d, _ in self.joins):
                children = self.df.filter(F.col("doc_id") != F.col("_root_"))
                agg = (F.max if sel == "max" else F.min)(F.col(fld))
                dict_df = children.groupBy(
                    F.col("_root_").alias("doc_id")
                ).agg(agg.cast("double").alias(cname))
                self.joins.append((dict_df, "doc_id"))
            return F.col(cname)
        if name == "currency":
            # currency(field [, CODE]): CurrencyFieldType's function
            # query (solr/schema/CurrencyFieldType.java + the example
            # currency.xml FileExchangeRateProvider table).  The field
            # stores "amount,CUR"; the value converts to CODE (default
            # USD, the table's base) via rate(CODE)/rate(CUR).
            col = F.col(raw[0])
            target = (raw[1] if len(raw) > 1 else "USD").upper()
            if target not in CURRENCY_RATES_USD:
                raise ValueError(f"unknown currency code {target!r}")
            amount = F.split(col, ",")[0].cast("double")
            cur = F.upper(F.coalesce(F.get(F.split(col, ","), 1), F.lit("USD")))
            rate_map = F.create_map(
                *[x for k, v in CURRENCY_RATES_USD.items()
                  for x in (F.lit(k), F.lit(v))]
            )
            from_rate = rate_map[cur]
            return amount / from_rate * F.lit(CURRENCY_RATES_USD[target])
        raise ValueError(f"unknown function {name!r}")

    def _minmax(self, field_expr: Column) -> tuple[Column, Column]:
        if self.df is None:
            raise ValueError("scale() needs the DataFrame context")
        agg = self.df.agg(
            F.min(field_expr).alias("mn"), F.max(field_expr).alias("mx")
        ).collect()[0]
        return F.lit(float(agg["mn"])), F.lit(float(agg["mx"]))

    def _call(self, name: str, a: list[Column]) -> Column:
        n = name.lower()
        if n == "abs":
            return F.abs(a[0])
        if n == "ceil":
            return F.ceil(a[0]).cast("double")
        if n == "floor":
            return F.floor(a[0]).cast("double")
        if n == "sqrt":
            return F.sqrt(a[0])
        if n == "ln":
            return F.log(a[0])
        if n == "log":
            return F.log10(a[0])
        if n == "exp":
            return F.exp(a[0])
        if n == "pow":
            return F.pow(a[0], a[1])
        if n == "sum":
            out = a[0]
            for x in a[1:]:
                out = out + x
            return out
        if n == "sub":
            return a[0] - a[1]
        if n == "product":
            out = a[0]
            for x in a[1:]:
                out = out * x
            return out
        if n == "div":
            return a[0] / a[1]
        if n == "mod":
            return a[0] % a[1]
        if n == "min":
            return F.least(*a)
        if n == "max":
            return F.greatest(*a)
        if n == "recip":
            # ReciprocalFloatFunction: a/(m·x+b) — (x, m, a, b)
            x, m, aa, b = a
            return aa / (m * x + b)
        if n == "linear":
            x, m, c = a
            return m * x + c
        if n == "map":
            # map(x, min, max, target): x∈[min,max] → target else x
            x, mn, mx, tgt = a
            return F.when((x >= mn) & (x <= mx), tgt).otherwise(x)
        if n == "scale":
            x, lo, hi = a[0], a[1], a[2]
            mn, mx = self._minmax(x)
            return lo + (x - mn) * (hi - lo) / (mx - mn)
        if n == "if":
            return F.when(a[0].cast("boolean"), a[1]).otherwise(a[2])
        if n == "exists":
            return a[0].isNotNull()
        if n == "not":
            return ~a[0].cast("boolean")
        if n == "sqedist":
            half = len(a) // 2
            out = F.lit(0.0)
            for i in range(half):
                d = a[i] - a[half + i]
                out = out + d * d
            return out
        if n == "dist":
            # dist(p, x1..xn, y1..yn): p-norm distance
            p = a[0]
            rest = a[1:]
            half = len(rest) // 2
            out = F.lit(0.0)
            for i in range(half):
                out = out + F.pow(F.abs(rest[i] - rest[half + i]), p)
            return F.pow(out, F.lit(1.0) / p)
        if n == "geodist":
            return geodist_km(a[0], a[1], a[2], a[3])
        if n == "hsin":
            # hsin(radius, isDegrees, x1, y1, x2, y2) — HaversineFunction
            radius, isdeg, x1, y1, x2, y2 = a
            conv = lambda c: F.when(isdeg.cast("boolean"), F.radians(c)).otherwise(c)  # noqa: E731
            rx1, ry1, rx2, ry2 = conv(x1), conv(y1), conv(x2), conv(y2)
            h = (
                F.sin((rx2 - rx1) / 2) ** 2
                + F.cos(rx1) * F.cos(rx2) * F.sin((ry2 - ry1) / 2) ** 2
            )
            return 2 * radius * F.asin(F.sqrt(h))
        if n == "geohash":
            # GeohashFunction: encode(lat, lon) at the default precision
            return geohash_encode(a[0], a[1])
        if n == "ghhsin":
            # GeohashHaversineFunction: ghhsin(radius, gh1, gh2)
            return ghhsin_dist(a[0], a[1], a[2])
        if n == "strdist":
            return strdist_edit(a[0], a[1])
        if n == "ms":
            if len(a) == 1:  # ms(a): millis since epoch
                return a[0].cast("timestamp").cast("double") * 1000.0
            return (
                a[0].cast("timestamp").cast("double")
                - a[1].cast("timestamp").cast("double")
            ) * 1000.0
        if n == "pi":
            return F.lit(math.pi)
        if n == "e":
            return F.lit(math.e)
        if n == "true":
            return F.lit(True)
        if n == "false":
            return F.lit(False)
        if n == "def":
            return F.coalesce(a[0], a[1])
        if n == "vector":
            return F.array(*a)
        if n == "and":
            out = a[0].cast("boolean")
            for x in a[1:]:
                out = out & x.cast("boolean")
            return out
        if n == "or":
            out = a[0].cast("boolean")
            for x in a[1:]:
                out = out | x.cast("boolean")
            return out
        if n == "xor":
            return a[0].cast("boolean") != a[1].cast("boolean")
        if n == "gt":
            return a[0] > a[1]
        if n == "lt":
            return a[0] < a[1]
        if n == "gte":
            return a[0] >= a[1]
        if n == "lte":
            return a[0] <= a[1]
        if n == "eq":
            return a[0] == a[1]
        if n == "maxdoc":
            # maxdoc(): docs including deleted (MaxDocValueSource)
            if self.tables is None:
                raise ValueError("maxdoc() needs tables= context")
            return F.lit(float(self.tables.stats.max_doc))
        if n == "numdocs":
            # numdocs(): maxDoc − numDeletedDocs (NumDocsValueSource)
            if self.tables is None:
                raise ValueError("numdocs() needs tables= context")
            return F.lit(float(self.tables.stats.doc_count))
        raise ValueError(f"unknown function {name!r}")


# USD-based exchange rates from the reference's example currency.xml
# (solr/server/solr/configsets/basic_configs/conf/currency.xml) — the
# FileExchangeRateProvider demo table, reproduced as data.
CURRENCY_RATES_USD = {
    "USD": 1.0, "ARS": 4.333871, "AUD": 1.025768, "EUR": 0.743676,
    "BRL": 1.881093, "CAD": 1.030815, "CLP": 519.0996, "CNY": 6.387310,
    "CZK": 18.47134, "DKK": 5.515436, "HKD": 7.801922, "HUF": 215.6169,
    "ISK": 118.1280, "INR": 49.49088, "XDR": 0.641358, "ILS": 3.709739,
    "JPY": 76.32419, "KRW": 1169.173, "KWD": 0.275142, "MXN": 13.85895,
    "NZD": 1.285159, "NOK": 5.859035, "PKR": 87.57007, "PEN": 2.730683,
    "PHP": 43.62039, "PLN": 3.310139, "RON": 3.100932, "RUB": 32.14663,
    "SAR": 3.750465, "SGD": 1.299352, "ZAR": 8.329761, "SEK": 6.883442,
    "CHF": 0.906035, "TWD": 30.40283, "THB": 30.89487, "AED": 3.672955,
    "UAH": 7.988582, "GBP": 0.647910, "VEF": 4.284478,
}


def parse_function_query(
    text: str, df: DataFrame | None = None, tables=None, searcher=None,
    payloads=None, payload_field=None, join_qfield=None,
) -> Column:
    """Parse a Solr function-query string into a Column expression.

    ``df`` supplies the DataFrame context for functions that need global
    statistics (``scale``, ``ord``, ``rord``); ``tables`` supplies the
    IndexTables for index-statistics functions (``maxdoc``, ``numdocs``,
    ``totaltermfreq``, ``sumtotaltermfreq``)."""
    p = _Parser(text, df, tables, searcher, payloads, payload_field, join_qfield)
    out = p.expr()
    if p.peek() is not None:
        raise ValueError(f"trailing input: {p.toks[p.pos:]}")
    if p.joins:
        raise ValueError(
            "ord()/rord() produce a dictionary join — evaluate with "
            "apply_function_query(df, text) instead"
        )
    return out


def apply_function_query(
    df: DataFrame, text: str, tables=None, searcher=None, payloads=None,
    payload_field=None, join_qfield=None,
) -> tuple[DataFrame, Column]:
    """Parse a function query AND apply any dictionary joins it needs.

    Returns (df_with_side_relations, column).  ord()/rord() queue a
    join against their ranked distinct-value frame; every other
    function is a pure column expression and df is returned unchanged.
    Missing values (NULL field) yield NULL ordinals via the left join,
    matching OrdFieldSource's absent-doc behavior.

    Join strategy is left to AQE on purpose: a dictionary-sized side
    relation broadcasts automatically when it fits, and a
    100M-distinct dictionary at corpus scale degrades to a partitioned
    shuffle join instead of failing on a forced broadcast hint."""
    p = _Parser(text, df, tables, searcher, payloads, payload_field, join_qfield)
    col = p.expr()
    if p.peek() is not None:
        raise ValueError(f"trailing input: {p.toks[p.pos:]}")
    out = df
    for dict_df, key in p.joins:
        out = out.join(dict_df, key, "left")
    return out, col
