"""PySpark wrapper for the geckospark Layer A API (generators G1-G8,
mutators M1-M20).

The reference library's audience calls it from Python; this module
gives them the same surface over the Spark engine. It is a thin py4j
bridge onto ``graft.python.PyGraft`` — every plan is built by the
Scala library, so the fused one-scan generator path and the single
fused mutator stats job are exactly what Scala callers get, and the
output is byte-identical for the same seeds (see
``scripts/py_roundtrip_test.py``).

Usage (any SparkSession whose JVM has the geckospark jar on the
classpath, e.g. ``spark-submit --jars geckospark.jar`` or
``spark.jars`` in the builder)::

    import graft

    df = graft.to_data_frame(spark, [
        (["segment"], graft.from_frequency_table(freq_df, "value", "freq", seed=1)),
        (["dob"], graft.from_datetime_range("1940-01-01", "2005-12-31",
                                            "%Y-%m-%d", "d", seed=2)),
    ], 1_000_000)

    out = graft.mutate_data_frame(df, [
        (["dob"], [(0.3, graft.with_replacement_table(
            [("0", "o"), ("1", "|"), ("5", "s")], inline=True, seed=3))]),
        (["segment"], [(0.2, graft.with_insert(seed=4))]),
    ])

Generator/mutator values returned by the factories are opaque JVM
handles; build them against the same SparkSession you pass to
``to_data_frame``.

If you build that SparkSession yourself rather than through
``GraftSession.builder``, set Spark's compiled-code cache in your
builder: ``.config("spark.sql.codegen.cache.maxEntries", "1000")``, the
engine's own value. Spark sizes that cache once per JVM, when the first
session generates code, and its default of 100 classes is smaller than
one pass of a typical pipeline, so a pipeline you run again in the same
session recompiles its generated code on every pass.

Surface parity with the reference (gecko) API:

======================================  =========================================
reference                               this module
======================================  =========================================
generator.from_function                 from_function (pandas_udf bridge)
generator.from_uniform_distribution     from_uniform_distribution
generator.from_normal_distribution      from_normal_distribution
generator.from_frequency_table          from_frequency_table / ..._csv
generator.from_multicolumn_frequency_…  from_multicolumn_frequency_table
generator.from_datetime_range           from_datetime_range
generator.from_group                    from_group
generator.to_data_frame                 to_data_frame
mutator.with_function                   with_function (pandas_udf bridge)
mutator.with_cldr_keymap_file           with_cldr_keymap_file
mutator.with_phonetic_replacement_table with_phonetic_replacement_table
mutator.with_replacement_table          with_replacement_table
mutator.with_missing_value              with_missing_value
mutator.with_insert / delete /          with_insert / with_delete /
  transpose / substitute / noop           with_transpose / with_substitute /
                                          with_noop
mutator.with_categorical_values         with_categorical_values
mutator.with_permute                    with_permute
mutator.with_lowercase / uppercase      with_lowercase / with_uppercase
mutator.with_datetime_offset            with_datetime_offset
mutator.with_generator                  with_generator
mutator.with_regex_replacement_table    with_regex_replacement_table / ..._csv
mutator.with_repeat                     with_repeat
mutator.with_group                      with_group
mutator.mutate_data_frame               mutate_data_frame
======================================  =========================================

``from_function`` / ``with_function`` — the callable escape hatches —
are bridged as **distributed pandas UDFs**, never py4j callbacks: the
callable is pickled to the executors and invoked there per Arrow
batch (row-at-a-time WITHIN the batch, matching the reference's
explicitly non-vectorized contract — "use sparingly ... for testing
purposes or if performance is not important", gecko/generator.py:34).
A py4j callback would instead pull every row through the driver
socket. Contract:

* The callable runs once per row (``func(*args, **kwargs)`` for
  ``from_function``; ``func(str(value), *args, **kwargs)`` for
  ``with_function``) and its result is coerced with ``str``. NULL
  input values pass through ``with_function`` untouched.
* Batch semantics: executors feed the UDF Arrow batches of up to
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows; the callable
  must not assume batch boundaries or cross-row state.
* Determinism is the CALLER's responsibility, exactly as in the
  reference (where ``func`` closes over whatever state it likes): a
  pure callable gives reproducible frames; a stateful/random one does
  not, and partition scheduling decides which rows see which calls.
  The reference's ``rng`` parameter on ``with_function`` is replaced
  by the wrapper-wide ``seed`` convention, which drives WHICH rows
  are mutated (the hash-gated p-draw on ``__row_id`` — partition-
  stable and reproducible, unlike the reference's draw); what the
  callable COMPUTES is still its own business.
* ``with_function`` entries must come after any engine mutators in
  the same column group's list (the engine's mutators run as one
  fused JVM plan first; interleaving would reorder applications, so
  it raises instead).

Scala callers get the real G1/M1 (`graft.gen.Generators.FromFunction`,
`graft.mut.Mutators.WithFunction`), which run inside the fused plan.
"""

from pyspark.sql import DataFrame, SparkSession

# must match graft.mut.Mutators.Ascii exactly (index-for-index: the
# charset draw is an index into this string)
_ASCII = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _jvm(spark):
    return spark._jvm.graft.python.PyGraft


def _active_spark():
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession")
    return s


def _jlist(spark, xs):
    lst = spark._jvm.java.util.ArrayList()
    for x in xs:
        lst.add(x)
    return lst


# ----------------------------------- python-callable escape hatches

class _PyFunctionGenerator:
    """G1 marker: a Python callable to run on the EXECUTORS as a
    scalar pandas UDF. Held python-side until ``to_data_frame``
    attaches it; never crosses py4j."""

    def __init__(self, func, args, kwargs):
        self._func, self._args, self._kwargs = func, args, kwargs

    def _column(self):
        from pyspark.sql.functions import pandas_udf
        func, args, kwargs = self._func, self._args, self._kwargs

        @pandas_udf("string")
        def _gen(row_id):
            import pandas as _pd
            return _pd.Series(
                [str(func(*args, **kwargs)) for _ in range(len(row_id))])

        return _gen


class _PyFunctionMutator:
    """M1 marker: a Python callable applied to hash-selected rows as
    a scalar pandas UDF (see the module docstring's contract)."""

    def __init__(self, func, args, kwargs, seed):
        self._func, self._args, self._kwargs = func, args, kwargs
        self._seed = int(seed)

    def _apply(self, df, column, p):
        from pyspark.sql import functions as F
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"with_function: p must be in [0, 1], is {p}")
        return df.withColumn(column, F.when(
            F.pmod(F.xxhash64(F.lit(self._seed), F.lit(column),
                              F.col("__row_id")),
                   F.lit(1000000)) < F.lit(int(round(p * 1000000))),
            _mutate_udf(self._func, self._args, self._kwargs)(F.col(column))
        ).otherwise(F.col(column)))


def _mutate_udf(func, args, kwargs):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _mut(values):
        return values.map(
            lambda v: v if v is None else str(func(str(v), *args, **kwargs)))

    return _mut


def from_function(func, *args, **kwargs):
    """G1 — generate each value by calling ``func(*args, **kwargs)``
    once per row, on the executors (scalar pandas UDF; see the module
    docstring for the batch/determinism contract). Single-column."""
    return _PyFunctionGenerator(func, args, kwargs)


def with_function(func, *args, seed, **kwargs):
    """M1 — mutate hash-selected rows (p-fraction, seeded on
    ``__row_id``) by calling ``func(str(value), *args, **kwargs)`` on
    the executors. The reference's ``rng`` parameter is replaced by
    ``seed`` (wrapper convention); see the module docstring."""
    return _PyFunctionMutator(func, args, kwargs, seed)


# --------------------------------------------------------- generators

def from_uniform_distribution(low=0.0, high=1.0, precision=6, *, seed):
    s = _active_spark()
    return _jvm(s).fromUniform(float(low), float(high), int(precision),
                               int(seed))


def from_normal_distribution(mean=0.0, sd=1.0, precision=6, *, seed):
    s = _active_spark()
    return _jvm(s).fromNormal(float(mean), float(sd), int(precision),
                              int(seed))


def from_datetime_range(start_dt, end_dt, dt_format, unit, *, seed):
    s = _active_spark()
    return _jvm(s).fromDatetimeRange(start_dt, end_dt, dt_format, unit,
                                     int(seed))


def from_frequency_table(df, value_column, freq_column, *, seed):
    """G4 from a PySpark DataFrame with (value, integer-freq) columns."""
    return _jvm(df.sparkSession).fromFrequencyTable(
        df._jdf, value_column, freq_column, int(seed))


def from_frequency_table_csv(spark, path, value_column, freq_column,
                             delimiter=",", encoding="UTF-8", *, seed):
    return _jvm(spark).fromFrequencyTableCsv(
        spark._jsparkSession, path, value_column, freq_column, delimiter,
        encoding, int(seed))


def from_multicolumn_frequency_table(df, value_columns, freq_column, *, seed):
    s = df.sparkSession
    return _jvm(s).fromMulticolumnFrequencyTable(
        df._jdf, _jlist(s, list(value_columns)), freq_column, int(seed))


def _require_jvm_handle(obj, where):
    if isinstance(obj, (_PyFunctionGenerator, _PyFunctionMutator)):
        raise ValueError(
            f"{where} composes JVM plan handles and cannot nest a "
            "from_function/with_function bridge (the callable runs as a "
            "pandas UDF attached by to_data_frame/mutate_data_frame, not "
            "as a JVM generator/mutator) — pass it as its own top-level "
            "spec entry instead")


def from_group(weighted_generators, max_rounding_adjustment=0, *, seed):
    """G7 — ``weighted_generators`` is [(weight, generator), ...]."""
    for _, g in weighted_generators:
        _require_jvm_handle(g, "from_group")
    s = _active_spark()
    ws = _jlist(s, [float(w) for w, _ in weighted_generators])
    gs = _jlist(s, [g for _, g in weighted_generators])
    return _jvm(s).fromGroup(ws, gs, int(max_rounding_adjustment), int(seed))


def to_data_frame(spark, spec, n):
    """G8 — ``spec`` is [([col, ...], generator), ...]; returns a
    PySpark DataFrame with a ``__row_id`` column plus the spec's
    columns, built as ONE fused range(n) scan when every generator is
    expression-backed. ``from_function`` entries are attached on top
    of that scan as scalar pandas UDF columns (still one pass — the
    UDF stage maps over the fused frame; no extra shuffle)."""
    jvm_spec = [(cols, g) for cols, g in spec
                if not isinstance(g, _PyFunctionGenerator)]
    py_spec = [(cols, g) for cols, g in spec
               if isinstance(g, _PyFunctionGenerator)]
    for cols, _ in py_spec:
        if len(cols) != 1:
            raise ValueError(
                f"from_function generates a single column, got {cols}")
    if jvm_spec:
        names = _jlist(spark,
                       [_jlist(spark, list(cols)) for cols, _ in jvm_spec])
        gens = _jlist(spark, [g for _, g in jvm_spec])
        df = DataFrame(
            _jvm(spark).toDataFrame(spark._jsparkSession, names, gens,
                                    int(n)), spark)
    else:
        df = spark.range(int(n)).selectExpr("id as __row_id")
    if py_spec:
        from pyspark.sql.functions import col
        for cols, g in py_spec:
            df = df.withColumn(cols[0], g._column()(col("__row_id")))
        # restore the spec's column order (python columns were appended)
        df = df.select("__row_id",
                       *[c for cols, _ in spec for c in cols])
    return df


# ----------------------------------------------------------- mutators

def with_missing_value(value="", *, seed):
    return _jvm(_active_spark()).withMissingValue(value, int(seed))


def with_insert(charset=_ASCII, *, seed):
    return _jvm(_active_spark()).withInsert(charset, int(seed))


def with_delete(*, seed):
    return _jvm(_active_spark()).withDelete(int(seed))


def with_transpose(*, seed):
    return _jvm(_active_spark()).withTranspose(int(seed))


def with_substitute(charset=_ASCII, *, seed):
    return _jvm(_active_spark()).withSubstitute(charset, int(seed))


def with_noop():
    return _jvm(_active_spark()).withNoop()


def with_categorical_values(values, *, seed):
    s = _active_spark()
    return _jvm(s).withCategoricalValues(_jlist(s, list(values)), int(seed))


def with_permute(*, seed):
    return _jvm(_active_spark()).withPermute(int(seed))


def with_lowercase(*, seed):
    return _jvm(_active_spark()).withLowercase(int(seed))


def with_uppercase(*, seed):
    return _jvm(_active_spark()).withUppercase(int(seed))


def with_datetime_offset(max_delta, unit, dt_format,
                         prevent_wraparound=False, *, seed):
    return _jvm(_active_spark()).withDatetimeOffset(
        int(max_delta), unit, dt_format, bool(prevent_wraparound), int(seed))


def with_repeat(join_with=" ", *, seed):
    return _jvm(_active_spark()).withRepeat(join_with, int(seed))


def with_generator(generator, mode="replace", join_with=" ", *, seed):
    _require_jvm_handle(generator, "with_generator")
    return _jvm(_active_spark()).withGenerator(generator, mode, join_with,
                                               int(seed))


def with_replacement_table(pairs, inline=False, reverse=False, *, seed):
    """M4 — ``pairs`` is [(source, target), ...]."""
    s = _active_spark()
    srcs = _jlist(s, [a for a, _ in pairs])
    tgts = _jlist(s, [b for _, b in pairs])
    return _jvm(s).withReplacementTable(srcs, tgts, bool(inline),
                                        bool(reverse), int(seed))


def with_phonetic_replacement_table(rules, *, seed):
    """M3 — ``rules`` is [(source, target, flags), ...]; flags in
    {"^", "$", "_"} combinations, "" = all."""
    s = _active_spark()
    srcs = _jlist(s, [r[0] for r in rules])
    tgts = _jlist(s, [r[1] for r in rules])
    fls = _jlist(s, [r[2] for r in rules])
    return _jvm(s).withPhoneticReplacementTable(srcs, tgts, fls, int(seed))


def with_cldr_keymap_file(path, charset=None, *, seed):
    return _jvm(_active_spark()).withCldrKeymapFile(
        path, charset if charset else "", int(seed))


def with_regex_replacement_table(df, pattern_column="pattern",
                                 flags_column=None, *, seed):
    """M17 — regex substitutions from a rule DataFrame: ``pattern_column``
    holds the regex, every other column (minus ``flags_column``) is a
    capture-group replacement, numbered ("1", "2", ...) or named. Pure
    config — no callable crosses the bridge."""
    return _jvm(df.sparkSession).withRegexReplacementTable(
        df._jdf, pattern_column, flags_column or "", int(seed))


def with_regex_replacement_table_csv(spark, path, pattern_column="pattern",
                                     flags_column=None, encoding="UTF-8",
                                     delimiter=",", *, seed):
    """M17 from a headered CSV file (reference: mutator.py:1444-1483)."""
    return _jvm(spark).withRegexReplacementTableCsv(
        spark._jsparkSession, path, pattern_column, flags_column or "",
        encoding, delimiter, int(seed))


def with_group(weighted_mutators, *, seed):
    """M19 — ``weighted_mutators`` is [(p, mutator), ...]."""
    for _, m in weighted_mutators:
        _require_jvm_handle(m, "with_group")
    s = _active_spark()
    ps = _jlist(s, [float(p) for p, _ in weighted_mutators])
    ms = _jlist(s, [m for _, m in weighted_mutators])
    return _jvm(s).withGroup(ps, ms, int(seed))


def mutate_data_frame(df, spec):
    """M20 — ``spec`` is [([col, ...], [(p, mutator), ...]), ...].
    ``with_function`` mutators must come LAST in their group's list:
    the engine mutators run as one fused JVM plan, then each
    ``with_function`` is applied per column in listed order (its rows
    are hash-selected on ``__row_id``, independently per column)."""
    jvm_spec = []
    py_apps = []  # (cols, p, mutator) in spec order
    py_touched = set()  # columns a with_function has already targeted
    for cols, ms in spec:
        jvm_ms, seen_py = [], False
        for p, m in ms:
            if isinstance(m, _PyFunctionMutator):
                seen_py = True
                py_apps.append((cols, float(p), m))
                py_touched.update(cols)
            elif seen_py:
                raise ValueError(
                    "with_function mutators must come after engine "
                    f"mutators in a column group's list (group {cols}): "
                    "the engine's mutators run as one fused JVM plan "
                    "first, so interleaving would reorder applications")
            else:
                # the same ordering hazard ACROSS groups: all engine
                # mutators run first in one fused plan, so an engine
                # mutator listed after a with_function on an
                # overlapping column would silently apply BEFORE it
                overlap = py_touched.intersection(cols)
                if overlap:
                    raise ValueError(
                        "engine mutators listed after a with_function "
                        f"on the same column(s) {sorted(overlap)} would "
                        "silently run before it (the engine's mutators "
                        "execute as one fused JVM plan first) — list "
                        "the with_function last across groups too")
                jvm_ms.append((p, m))
        if jvm_ms:
            jvm_spec.append((cols, jvm_ms))
    s = df.sparkSession
    out = df
    if jvm_spec:
        col_groups = _jlist(s, [_jlist(s, list(cols))
                                for cols, _ in jvm_spec])
        probs = _jlist(s, [_jlist(s, [float(p) for p, _ in ms])
                           for _, ms in jvm_spec])
        muts = _jlist(s, [_jlist(s, [m for _, m in ms])
                          for _, ms in jvm_spec])
        out = DataFrame(_jvm(s).mutate(out._jdf, col_groups, probs, muts), s)
    for cols, p, m in py_apps:
        for c in cols:
            out = m._apply(out, c, p)
    return out


# --------------------------------------------------------------------
# Layer B: the engine's data-curation / retrieval operators.
#
# The reference's audience is Python-first; these expose the engine's
# flagship LLM-pipeline operators to that audience. Every function is
# CONFIG-ONLY — a gate-query key plus an sf-layout table directory
# (``<dir>/documents.parquet`` etc.), no Python callables — so nothing
# crosses py4j per row and the returned DataFrame is the same fused
# JVM plan the Scala gate runs (scripts/py_layerb_test.py pins
# byte-parity against the Scala dumps).


def run_query(spark, name, table_dir):
    """Run any gate query by its ``SparkEntry.queries`` key."""
    return DataFrame(_jvm(spark).runQuery(spark._jsparkSession, name,
                                          table_dir), spark)


def dedup_exact(spark, table_dir):
    """Exact duplicate groups over ``documents`` (hash group-by)."""
    return run_query(spark, "d01_dedup_exact", table_dir)


def dedup_minhash_lsh(spark, table_dir):
    """MinHash+LSH near-duplicate pairs over ``documents`` (banded,
    never all-pairs)."""
    return run_query(spark, "d02_dedup_minhash_lsh", table_dir)


def token_count(spark, table_dir):
    """Per-document token statistics over ``documents``."""
    return run_query(spark, "t01_token_count", table_dir)


def quality_score(spark, table_dir):
    """Length/punctuation/stopword quality scores over ``documents``."""
    return run_query(spark, "t02_quality_score", table_dir)


def bm25_topk(spark, table_dir):
    """Integer-BM25 top-k lexical retrieval over ``documents``."""
    return run_query(spark, "t19_bm25_topk", table_dir)


def hybrid_stored(spark, table_dir):
    """Hybrid (BM25 + ANN, RRF-fused) retrieval served from the
    STORED indexes (builds them on first call per session)."""
    return run_query(spark, "s29_hybrid_stored", table_dir)


def ann_stored_ivf(spark, table_dir):
    """Build (first call per session) and SERVE the stored IVF index
    over ``embeddings`` — top-k per query from statically pruned
    posting lists, the RAG-retrieval workhorse."""
    return run_query(spark, "s24_ann_stored_ivf", table_dir)


def index_erasure(spark, table_dir):
    """Right-to-erasure inside the stored IVF + BM25 indexes: delete a
    fixed id set, rewrite only the touched posting lists/buckets, and
    return the post-erasure serve (byte-equal to a from-scratch
    rebuild over the surviving corpus)."""
    return run_query(spark, "s32_index_erasure", table_dir)


def fuzzy_decontaminate(spark, table_dir):
    """Fuzzy (n-gram overlap) train/eval decontamination over
    ``documents`` — the benchmark-leakage gate a pretraining corpus
    runs before training."""
    return run_query(spark, "t42_fuzzy_decontaminate", table_dir)


def incremental_mv(spark, table_dir):
    """Incrementally-maintained aggregate materialized view over
    ``events`` (O(delta) refresh, not recompute)."""
    return run_query(spark, "c08_incremental_mv", table_dir)


def semantic_dedup(spark, table_dir):
    """SemDeDup-style embedding-cluster near-duplicate pruning over
    ``embeddings`` (quantize, cluster-assign, in-cluster cosine)."""
    return run_query(spark, "d09_semantic_dedup", table_dir)
