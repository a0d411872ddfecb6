"""JSON pipeline-spec compiler: the reference's USAGE mode.

Users of the reference don't call an API — they deploy a JSON pipeline
(`ETLBatchConfig`: stages + connections, reference
`TopNTest.java:94-105`) and CDAP wires source → TopN → sink around the
plugin. This module reproduces that surface on Spark: a dict spec with
``stages`` (name, type, plugin, properties) and ``connections``
(from → to) compiles to DataFrames and runs, with the reference's
two-phase lifecycle:

1. **deploy** (`compile_pipeline` ≈ ``configurePipeline``,
   TopN.java:63-72): topo-order the DAG, build each stage's lazy
   DataFrame, validate every stage's config against its INPUT schema
   with one FailureCollector per stage — macro'd (``${name}``)
   properties skip validation (TopNConfig.java:64,88,97). All stages'
   failures are reported together, not first-error-only.
2. **run** (`run_pipeline` ≈ ``prepareRun`` + execution,
   TopN.java:74-82): substitute macros, re-validate the literal
   configs, execute sinks.

Every entry point is a thin call to ONE DAG walker, ``_walk``: it
checks stage names, plugins and declared types, topo-orders the DAG,
runs each stage's handler in the requested phase and prefixes every
collected failure with its stage. ``run_pipeline_with_source`` and
``run_streaming_pipeline`` hand the walker an INJECTED source — a
DataFrame that stands in for the named source stage's output (an
in-memory frame, a fixture, or one micro-batch of a stream) — and an
append write mode for the sinks.

Stage types mirror CDAP's: ``batchsource``, ``transform``,
``batchaggregator``, ``batchjoiner``, ``batchsink``. ``PLUGINS`` maps
each plugin name to its type and handler: the reference's pipeline
plugins (File source/sink, Projection, Filter, SQL, Deduplicate,
GroupByAggregate, Joiner, TopN) plus the corpus, SFT and
binary-export stages; registering more is one dict entry. Handlers
read their properties through the shared readers (``_str_prop``,
``_int_prop``, ``_float_prop``, ``_choice_prop``, ``_fields_prop``,
``_col_prop``), which own the parse, the @Macro lifecycle and the
failure text.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from topn_spark.errors import (
    FailureCollector,
    ValidationError,
    contains_macro,
    substitute_macros,
)
from topn_spark.operators.dedup import dedup_exact
from topn_spark.operators.topn import TopNConfig, topn
from topn_spark.plans import local_frame
from topn_spark.sources.io import read, write


@dataclass
class Stage:
    name: str
    type: str
    plugin: str
    properties: dict = field(default_factory=dict)


#: the flag choices, and the hint several plugins print for them
_TF = ("true", "false")
_TF_HINT = "'true' or 'false'."


def _col_prop(p, name, default, df, collector):
    """A column-name property: the name, after collecting ``Column
    '<c>' not in input schema.`` when ``df`` lacks it; an unset
    optional column (``default`` None) reads None unchecked. Called
    where the check belongs in the stage's failure order;
    ``_col_prop({}, name, col, ...)`` checks a fixed column ``col``
    under ``name``."""
    col = p.get(name, default)
    if col is not None and col not in df.columns:
        collector.add_failure(
            f"Column '{col}' not in input schema.", property_name=name
        )
    return col


def _str_prop(p, name, default, collector, substitutions, phase):
    """A property's raw value under the @Macro lifecycle: substituted
    at run (an unresolvable macro is collected and left in place),
    as written at deploy."""
    raw = p.get(name, default)
    if phase == "run":
        raw = substitute_macros(raw, substitutions or {}, collector, name)
    return raw


def _int_prop(
    p, name, default, collector, lo=1,
    substitutions=None, phase="deploy", hint=None,
):
    """Parse an integer stage property with the @Macro lifecycle: a
    ``${...}`` value defers validation at deploy (returns the
    default as a schema-faithful placeholder) and substitutes-then-
    validates at run, exactly like the string-prop handlers. A bad
    value collects ``Invalid <name> '<v>'. An integer.`` and one
    below ``lo`` collects ``<name> must be >= <lo>, got <v>.``; with
    a ``hint`` both collect ``Invalid <name> '<v>'. <hint>``. Either
    way the result is None."""
    raw = _str_prop(p, name, str(default), collector, substitutions, phase)
    if contains_macro(raw):
        return default if phase == "deploy" else None
    try:
        v = int(raw)
    except (TypeError, ValueError):
        v = None
    if v is None or (hint and v < lo):
        collector.add_failure(
            f"Invalid {name} '{raw}'.", hint or "An integer.",
            property_name=name,
        )
        return None
    if v < lo:
        collector.add_failure(
            f"{name} must be >= {lo}, got {v}.", property_name=name
        )
        return None
    return v


def _float_prop(
    p, name, default, hint, collector,
    substitutions=None, phase="deploy", lo=None, hi=None,
):
    """Parse a float stage property with the same @Macro lifecycle.
    ``default`` is the raw text used when the property is absent
    (None: optional, reads None); a macro reads as the default. A
    value that does not parse or falls outside ``[lo, hi]`` collects
    ``Invalid <name> '<v>'. <hint>`` and reads None."""
    raw = _str_prop(p, name, default, collector, substitutions, phase)
    if raw is None or contains_macro(str(raw)):
        return None if default is None else float(default)
    try:
        v = float(raw)
    except (TypeError, ValueError):
        v = None
    if v is None or not (
        (lo is None or v >= lo) and (hi is None or v <= hi)
    ):
        collector.add_failure(
            f"Invalid {name} '{raw}'.", hint, property_name=name
        )
        return None
    return v


def _choice_prop(
    p, name, default, choices, collector, hint=None, label=None,
    fold=False,
):
    """An enumerated property. A value outside ``choices`` collects
    ``Invalid <name> '<v>'.`` (``Unknown <label> '<v>'.`` when a
    label is given) with ``hint`` (default ``One of a, b.``) and
    reads None. ``fold`` compares (and returns) the lower-cased
    value; the message still shows the value as written."""
    raw = p.get(name, default)
    v = raw.lower() if fold else raw
    if v in choices:
        return v
    collector.add_failure(
        f"Unknown {label} '{raw}'." if label else f"Invalid {name} '{raw}'.",
        hint or f"One of {', '.join(choices)}.",
        property_name=name,
    )
    return None


def _fields_prop(p, name, collector=None, df=None, default=""):
    """A comma-list property as its stripped, non-empty items. With
    ``df``, items missing from its schema collect ``Columns [...] not
    in input schema.`` and the result is None."""
    names = [c.strip() for c in p.get(name, default).split(",") if c.strip()]
    missing = [c for c in names if df is not None and c not in df.columns]
    if missing:
        collector.add_failure(
            f"Columns {missing} not in input schema.", property_name=name
        )
        return None
    return names


_AGG_FUNCS: dict[str, Callable] = {
    "count": lambda c: F.count(F.lit(1) if c == "*" else F.col(c)),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "avg": lambda c: F.avg(c),
    "countdistinct": lambda c: F.count_distinct(F.col(c)),
}


def _parse_aggregates(spec: str, collector: FailureCollector):
    """``alias:func(col), alias2:func2(col2)`` → list of Columns
    (CDAP GroupByAggregate's aggregates string)."""
    out = []
    for part in [p.strip() for p in spec.split(",") if p.strip()]:
        try:
            alias, call = part.split(":", 1)
            fn, _, rest = call.partition("(")
            col = rest.rstrip(")").strip()
            f = _AGG_FUNCS[fn.strip().lower()]
        except (ValueError, KeyError):
            collector.add_failure(
                f"Unparseable aggregate '{part}'.",
                "Use alias:func(col) with func in "
                f"{sorted(_AGG_FUNCS)}.",
                property_name="aggregates",
            )
            continue
        out.append(f(col).alias(alias.strip()))
    return out


def _stage_topn(spark, stage, inputs, collector, substitutions, phase):
    (df,) = inputs
    props = stage.properties
    cfg = TopNConfig(
        field=props.get("field", ""),
        size=props.get("size"),
        ignore_null=props.get("ignoreNull"),
    )
    if phase == "deploy":
        cfg.validate(df.schema, collector)
        return df  # schema passthrough (TopN.java:71)
    try:
        resolved = cfg.resolve(substitutions or {})
    except ValidationError as e:
        collector.failures.extend(e.failures)
        return df
    resolved.validate(df.schema, collector)
    if collector.failures:
        return df
    return topn(
        df, resolved.field, resolved.top_size, resolved.top_ignore_null
    )


def _stage_source(spark, stage, inputs, collector, substitutions, phase):
    p = stage.properties
    if "path" not in p and stage.plugin != "SyntheticDocs":
        collector.add_failure(
            "Source needs a 'path'.", property_name="path"
        )
        return None
    if stage.plugin == "SyntheticDocs":
        from topn_spark.sources.pydatasource import register

        register(spark)
        r = spark.read.format("synthetic_docs")
        for k in ("n", "parts", "seed"):
            if k in p:
                r = r.option(k, p[k])
        return r.load()
    path = _str_prop(p, "path", None, collector, substitutions, phase)
    fmt = _str_prop(p, "format", "parquet", collector, substitutions, phase)
    # @Macro lifecycle, same as Filter/SQL/TopN: a macro'd path or
    # format cannot be read at deploy. If an explicit literal schema is
    # given, validate downstream against an empty typed frame; else
    # defer the whole downstream (schema unknown until run).
    if phase == "deploy" and (contains_macro(path) or contains_macro(fmt)):
        schema = p.get("schema")
        if schema and not contains_macro(schema):
            return local_frame(spark, [], schema)
        return None  # downstream validation deferred to run
    if collector.failures:
        return None
    return read(spark, path, fmt=fmt, schema=p.get("schema"))


def _stage_projection(spark, stage, inputs, collector, substitutions, phase):
    (df,) = inputs
    p = stage.properties
    if "select" in p:
        cols = _fields_prop(p, "select", collector, df)
        return df if cols is None else df.select(*cols)
    if "drop" in p:
        return df.drop(*_fields_prop(p, "drop"))
    collector.add_failure(
        "Projection needs 'select' or 'drop'.", property_name="select"
    )
    return df


def _stage_filter(spark, stage, inputs, collector, substitutions, phase):
    (df,) = inputs
    if not stage.properties.get("condition"):
        collector.add_failure(
            "Filter needs a 'condition'.", property_name="condition"
        )
        return df
    cond = _str_prop(
        stage.properties, "condition", None, collector, substitutions, phase
    )
    if phase == "deploy" and contains_macro(cond):
        return df  # deferred
    try:
        return df.where(F.expr(cond))
    except Exception as e:  # analyzer error → collected, not raised
        collector.add_failure(
            f"Invalid condition: {e}", property_name="condition"
        )
        return df


def _stage_sql(spark, stage, inputs, collector, substitutions, phase):
    (df,) = inputs
    q = stage.properties.get("query")
    if not q:
        collector.add_failure(
            "SQL stage needs a 'query'.", property_name="query"
        )
        return df
    # ${input} is the stage's own placeholder, not a config macro —
    # strip it before the macro check so deploy defers only on REAL
    # unresolved macros, exactly like the Filter stage
    if phase == "deploy" and contains_macro(q.replace("${input}", "")):
        return df
    if phase == "run":
        q = substitute_macros(
            q.replace("${input}", "\x00INPUT\x00"),
            substitutions or {}, collector, "query",
        ).replace("\x00INPUT\x00", "${input}")
    df.createOrReplaceTempView(f"_pipe_{stage.name}_input")
    try:
        return spark.sql(
            q.replace("${input}", f"_pipe_{stage.name}_input")
        )
    except Exception as e:
        collector.add_failure(
            f"Invalid query: {e}", property_name="query"
        )
        return df


def _stage_dedup(spark, stage, inputs, collector, substitutions, phase):
    (df,) = inputs
    p = stage.properties
    uniq = _fields_prop(p, "uniqueFields", collector, df)
    if uniq == []:
        collector.add_failure(
            "Deduplicate needs 'uniqueFields'.",
            property_name="uniqueFields",
        )
    if not uniq:
        return df
    tiebreak = _fields_prop(p, "tiebreak") or [
        c for c in df.columns if c not in uniq
    ][:1]
    return dedup_exact(df, subset=uniq, tiebreak=tiebreak)


def _stage_groupby(spark, stage, inputs, collector, substitutions, phase):
    (df,) = inputs
    p = stage.properties
    keys = _fields_prop(p, "groupByFields")
    aggs = _parse_aggregates(p.get("aggregates", ""), collector)
    if not aggs:
        return df
    return df.groupBy(*keys).agg(*aggs)


def _stage_joiner(spark, stage, inputs, collector, substitutions, phase):
    if len(inputs) != 2:
        collector.add_failure(
            f"Joiner needs exactly 2 inputs, got {len(inputs)}.",
        )
        return inputs[0] if inputs else None
    left, right = inputs
    p = stage.properties
    keys = p.get("joinKeys", "")
    pairs = []
    for part in keys.split(","):
        try:
            lk, rk = [k.strip() for k in part.split("=")]
        except ValueError:
            collector.add_failure(
                "joinKeys must be 'leftCol = rightCol"
                "[, leftCol2 = rightCol2 ...]'.",
                property_name="joinKeys",
            )
            return left
        if not lk or not rk:
            collector.add_failure(
                f"Empty column name in joinKeys pair '{part.strip()}'.",
                property_name="joinKeys",
            )
            return left
        pairs.append((lk, rk))
    how = p.get("joinType", "inner")
    cond = None
    for lk, rk in pairs:
        c = left[lk] == right[rk]
        cond = c if cond is None else cond & c
    out = left.join(right, cond, how)
    if p.get("dropRightKey", "true").lower() == "true":
        # drop by Column reference, not name: when lk == rk the joined
        # frame holds TWO columns named rk and a name-based drop would
        # either remove both or leave an AMBIGUOUS_REFERENCE landmine
        for _, rk in pairs:
            out = out.drop(right[rk])
    return out


def _stage_sink(spark, stage, inputs, collector, substitutions, phase):
    (df,) = inputs
    p = stage.properties
    if "path" not in p:
        collector.add_failure("Sink needs a 'path'.", property_name="path")
        return df
    if phase == "run":
        # @Macro lifecycle: resolve ${...} in path/format before the
        # write — a macro'd sink path must never create a literal
        # '${out}' directory
        path = _str_prop(p, "path", None, collector, substitutions, phase)
        fmt = _str_prop(
            p, "format", "parquet", collector, substitutions, phase
        )
        if collector.failures:
            return df
        write(df, path, fmt=fmt, mode=p.get("mode", "overwrite"))
    return df


def _stage_union(spark, stage, inputs, collector, substitutions, phase):
    if len(inputs) < 2:
        collector.add_failure(
            f"Union needs >= 2 inputs, got {len(inputs)}."
        )
        return inputs[0] if inputs else None
    out = inputs[0]
    for df in inputs[1:]:
        if set(df.columns) != set(out.columns):
            collector.add_failure(
                "Union inputs must share a column set; got "
                f"{sorted(out.columns)} vs {sorted(df.columns)}."
            )
            return out
        out = out.unionByName(df)
    if stage.properties.get("distinct", "false").lower() == "true":
        out = out.distinct()
    return out


def _stage_window(spark, stage, inputs, collector, substitutions, phase):
    """CDAP-style windowed rank/row_number/lag transform: properties
    partitionFields, orderField (+ ':desc'), function
    (row_number|rank|dense_rank|lag|lead), alias, offset."""
    from pyspark.sql.window import Window as _W

    (df,) = inputs
    p = stage.properties
    parts = _fields_prop(p, "partitionFields")
    order = p.get("orderField", "")
    if not order:
        collector.add_failure(
            "Window needs an 'orderField'.", property_name="orderField"
        )
        return df
    name, _, direction = order.partition(":")
    name = name.strip()
    if name not in df.columns:
        collector.add_failure(
            f"Column '{name}' not in input schema.",
            property_name="orderField",
        )
        return df
    oc = (
        F.col(name).desc()
        if direction.strip().lower() == "desc"
        else F.col(name).asc()
    )
    w = (_W.partitionBy(*parts) if parts else _W.partitionBy()).orderBy(oc)
    fn = p.get("function", "row_number").strip().lower()
    alias = p.get("alias", fn)
    offset = int(p.get("offset", "1"))
    exprs = {
        "row_number": lambda: F.row_number().over(w),
        "rank": lambda: F.rank().over(w),
        "dense_rank": lambda: F.dense_rank().over(w),
        "lag": lambda: F.lag(name, offset).over(w),
        "lead": lambda: F.lead(name, offset).over(w),
    }
    if fn not in exprs:
        collector.add_failure(
            f"Unknown window function '{fn}'.",
            f"One of {sorted(exprs)}.",
            property_name="function",
        )
        return df
    return df.withColumn(alias, exprs[fn]())


def _stage_html_extract(
    spark, stage, inputs, collector, substitutions, phase
):
    """HtmlExtract transform: raw markup -> (id, title, text,
    n_links) via operators/markup.py — the web-corpus front end as a
    pipeline plugin. Properties: htmlField (default 'html'), idField
    (default 'doc_id')."""
    (df,) = inputs
    p = stage.properties
    html_col = _col_prop(p, "htmlField", "html", df, collector)
    if collector.failures:
        return df
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    if collector.failures:
        return df
    from topn_spark.operators.markup import extract_html_text

    return extract_html_text(df, html_col=html_col, id_col=id_col)


def _stage_quality_score(
    spark, stage, inputs, collector, substitutions, phase
):
    """QualityScore transform: Gopher-style quality features + keep
    flag (textstats.add_quality). Property: textField ('text')."""
    (df,) = inputs
    text_col = _col_prop(stage.properties, "textField", "text", df, collector)
    if collector.failures:
        return df
    from topn_spark.operators.textstats import add_quality

    return add_quality(df, text_col)


def _stage_script_profile(
    spark, stage, inputs, collector, substitutions, phase
):
    """ScriptProfile transform: per-doc Unicode script counts +
    dominant script (textstats.script_profile). Property: textField."""
    (df,) = inputs
    text_col = _col_prop(stage.properties, "textField", "text", df, collector)
    if collector.failures:
        return df
    from topn_spark.operators.textstats import script_profile

    return script_profile(df, text_col)


def _stage_normalize_unicode(
    spark, stage, inputs, collector, substitutions, phase
):
    """NormalizeUnicode transform (textstats.normalize_unicode).
    Properties: textField ('text'), form ('NFC')."""
    (df,) = inputs
    p = stage.properties
    # validate every property independently so one bad upstream stage
    # doesn't mask this stage's own config errors in the batch report
    text_col = _col_prop(p, "textField", "text", df, collector)
    form = _choice_prop(
        p, "form", "NFC", ("NFC", "NFD", "NFKC", "NFKD"), collector,
        label="normalization form",
    )
    if collector.failures:
        return df
    from topn_spark.operators.textstats import normalize_unicode

    return normalize_unicode(df, text_col, form=form)


def _stage_gopher_rules(
    spark, stage, inputs, collector, substitutions, phase
):
    """GopherRules transform: the full published Gopher rule suite
    (textstats.gopher_rules) — per-rule signal columns + gopher_keep.
    Properties: textField ('text'), keepOnly ('false' — when 'true',
    filter to gopher_keep rows and drop the signal columns)."""
    (df,) = inputs
    p = stage.properties
    text_col = _col_prop(p, "textField", "text", df, collector)
    keep_only = _choice_prop(p, "keepOnly", "false", _TF, collector)
    if collector.failures:
        return df
    from topn_spark.operators.textstats import gopher_rules

    out = gopher_rules(df, text_col)
    if keep_only == "true":
        return out.where(F.col("gopher_keep")).select(*df.columns)
    return out


def _stage_c4_line_filter(
    spark, stage, inputs, collector, substitutions, phase
):
    """C4LineFilter transform: C4-style line cleaning + page gate
    (textstats.c4_line_filter). Properties: textField ('text'),
    keepOnly ('false' — when 'true', keep only c4_keep pages and
    replace the text column with the cleaned text), minWords ('3')
    and minSentences ('5') — the Raffel et al. §2.2 constants, as
    properties for deliberate deviation."""
    (df,) = inputs
    p = stage.properties
    text_col = _col_prop(p, "textField", "text", df, collector)
    keep_only = _choice_prop(p, "keepOnly", "false", _TF, collector)
    min_words, min_sentences = (
        _int_prop(
            p, prop, default, collector, lo=0, substitutions=substitutions,
            phase=phase, hint="A non-negative integer.",
        )
        for prop, default in (("minWords", 3), ("minSentences", 5))
    )
    if collector.failures:
        return df
    from topn_spark.operators.textstats import c4_line_filter

    out = c4_line_filter(
        df,
        text_col,
        min_words=min_words,
        min_sentences=min_sentences,
    )
    if keep_only == "true":
        return (
            out.where(F.col("c4_keep"))
            .withColumn(text_col, F.col("clean_text"))
            .select(*df.columns)
        )
    return out


def _stage_gopher_repetition(
    spark, stage, inputs, collector, substitutions, phase
):
    """GopherRepetition transform: the Table A1 repetition-rule suite
    (textstats.gopher_repetition). Properties: textField ('text'),
    keepOnly ('false' — when 'true', filter to gopher_rep_keep rows
    and drop the signal columns)."""
    (df,) = inputs
    p = stage.properties
    text_col = _col_prop(p, "textField", "text", df, collector)
    keep_only = _choice_prop(p, "keepOnly", "false", _TF, collector)
    if collector.failures:
        return df
    from topn_spark.operators.textstats import gopher_repetition

    out = gopher_repetition(df, text_col)
    if keep_only == "true":
        return out.where(F.col("gopher_rep_keep")).select(*df.columns)
    return out


def _stage_perplexity_filter(
    spark, stage, inputs, collector, substitutions, phase
):
    """PerplexityFilter transform: score every record under a SAVED
    bigram LM artifact (lm.py::load_bigram_lm — train once, score
    any stream) and annotate with (n_bigrams, logprob, ppl).
    Properties: modelPath (required), textField ('text'), idField
    ('doc_id'), smoothing ('wb'), k ('1.0'), maxPpl (optional — when
    set, keep only records with ppl <= maxPpl and drop the score
    columns, the CCNet head-cut deployment shape; records with < 2
    tokens have no model opinion and are dropped by the filter)."""
    (df,) = inputs
    p = stage.properties
    # macro lifecycle parity: substitute at run, then validate the
    # literal values below (macro'd props skip the deploy checks)
    model_path = _str_prop(
        p, "modelPath", None, collector, substitutions, phase
    )
    smoothing = _str_prop(
        p, "smoothing", "wb", collector, substitutions, phase
    )
    text_col = _col_prop(p, "textField", "text", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    if not model_path:
        collector.add_failure(
            "Required property 'modelPath' is missing.",
            "Point it at a save_bigram_lm artifact.",
            property_name="modelPath",
        )
    if not contains_macro(smoothing) and smoothing not in ("addk", "wb"):
        collector.add_failure(
            f"Unknown smoothing '{smoothing}'.",
            "One of addk, wb.",
            property_name="smoothing",
        )
    k = _float_prop(p, "k", "1.0", "A float.", collector, substitutions, phase)
    max_ppl = _float_prop(
        p, "maxPpl", None, "A float.", collector, substitutions, phase
    )
    if collector.failures:
        return df
    if phase == "deploy" and (
        contains_macro(model_path) or contains_macro(p.get("maxPpl"))
    ):
        # schema-faithful placeholder: scoring needs the (deferred)
        # model; with a maxPpl cut the output schema == input schema,
        # else the three score columns append
        if "maxPpl" in p:
            return df
        return (
            df.withColumn("n_bigrams", F.lit(None).cast("bigint"))
            .withColumn("logprob", F.lit(None).cast("double"))
            .withColumn("ppl", F.lit(None).cast("double"))
        )
    from topn_spark.operators.lm import (
        load_bigram_lm,
        perplexity_score,
    )

    unigrams, bigrams, meta = load_bigram_lm(spark, model_path)
    scored = perplexity_score(
        df,
        unigrams,
        bigrams,
        vocab_size=meta["vocab_size"],
        k=k,
        id_col=id_col,
        text_col=text_col,
        mode=meta["token_mode"],
        smoothing=smoothing,
    )
    out = df.join(scored, id_col)
    if max_ppl is not None:
        return out.where(F.col("ppl") <= max_ppl).select(*df.columns)
    return out


def _stage_routed_quality(
    spark, stage, inputs, collector, substitutions, phase
):
    """RoutedQuality transform: per-language routed quality gate
    (textstats.py::routed_quality) — one signal computation, each
    language gated on its own Gopher/C4/LM parameters via a
    broadcast thresholds table (the Dolma per-language deployment
    shape). Properties: routes (required JSON object: lang ->
    overrides of ROUTE_DEFAULTS, explicit null disables a rule),
    langField ('lang'), textField ('text'), idField ('doc_id'),
    lmPaths (optional JSON object: lang -> save_bigram_lm artifact
    path — required for every route that sets maxPpl/max_ppl),
    smoothing ('wb'), keepOnly ('false' — when 'true', admit only
    routed_keep rows and emit the INPUT schema, the gate
    deployment shape)."""
    import json

    from topn_spark.operators.textstats import ROUTE_DEFAULTS

    (df,) = inputs
    p = stage.properties
    id_col = p.get("idField", "doc_id")
    smoothing = p.get("smoothing", "wb")
    routes_raw = _str_prop(p, "routes", None, collector, substitutions, phase)
    lm_paths_raw = _str_prop(
        p, "lmPaths", None, collector, substitutions, phase
    )
    lang_col = _col_prop(p, "langField", "lang", df, collector)
    text_col = _col_prop(p, "textField", "text", df, collector)
    if not routes_raw:
        collector.add_failure(
            "Required property 'routes' is missing.",
            "A JSON object: lang -> parameter overrides.",
            property_name="routes",
        )
        return df
    routes = None
    if not contains_macro(routes_raw):
        try:
            routes = json.loads(routes_raw)
        except ValueError:
            collector.add_failure(
                f"routes is not valid JSON: {routes_raw[:80]!r}.",
                "A JSON object: lang -> parameter overrides.",
                property_name="routes",
            )
        if routes is not None and (
            not isinstance(routes, dict)
            or not all(
                isinstance(cfg, dict) for cfg in routes.values()
            )
        ):
            collector.add_failure(
                "routes must map language -> override object.",
                "e.g. {\"en\": {}, \"de\": {\"min_stop_hits\": 3}}",
                property_name="routes",
            )
            routes = None
        if routes is not None:
            bad = sorted(
                {
                    key
                    for cfg in routes.values()
                    for key in cfg
                    if key not in ROUTE_DEFAULTS
                }
            )
            if bad:
                collector.add_failure(
                    f"Unknown route parameter(s) {bad}.",
                    f"Valid: {sorted(ROUTE_DEFAULTS)}.",
                    property_name="routes",
                )
    lm_paths = {}
    if lm_paths_raw is not None and not contains_macro(lm_paths_raw):
        try:
            lm_paths = json.loads(lm_paths_raw)
        except ValueError:
            collector.add_failure(
                f"lmPaths is not valid JSON: {lm_paths_raw[:80]!r}.",
                "A JSON object: lang -> artifact path.",
                property_name="lmPaths",
            )
        if not isinstance(lm_paths, dict):
            collector.add_failure(
                "lmPaths must map language -> artifact path.",
                property_name="lmPaths",
            )
            lm_paths = {}
    if routes is not None:
        unmodeled = sorted(
            g
            for g, cfg in routes.items()
            if {**ROUTE_DEFAULTS, **cfg}["max_ppl"] is not None
            and g not in lm_paths
        )
        if unmodeled and not contains_macro(lm_paths_raw or ""):
            collector.add_failure(
                f"Route(s) {unmodeled} set max_ppl but lmPaths has "
                "no model for them.",
                "Add the language to lmPaths.",
                property_name="lmPaths",
            )
    keep_only = _choice_prop(p, "keepOnly", "false", _TF, collector, _TF_HINT)
    if collector.failures or routes is None:
        return df
    if phase == "deploy" and (
        contains_macro(routes_raw)
        or contains_macro(lm_paths_raw or "")
    ):
        if keep_only == "true":
            return df
        # schema-faithful placeholder for the annotate shape
        out = df
        for name, t in (
            ("n_words", "bigint"), ("mean_word_len", "double"),
            ("hash_word_ratio", "double"),
            ("ellipsis_word_ratio", "double"),
            ("frac_bullet_lines", "double"),
            ("frac_ellipsis_lines", "double"),
            ("frac_alpha_words", "double"),
            ("n_sentences", "bigint"),
            ("route_stop_hits", "bigint"), ("ppl", "double"),
            ("route_reason", "string"), ("routed_keep", "boolean"),
        ):
            out = out.withColumn(name, F.lit(None).cast(t))
        return out
    from topn_spark.operators.lm import load_bigram_lm
    from topn_spark.operators.textstats import routed_quality

    lms = {
        g: load_bigram_lm(spark, path)
        for g, path in lm_paths.items()
    }
    out = routed_quality(
        df,
        routes,
        lang_col=lang_col,
        text_col=text_col,
        id_col=id_col,
        lms=lms or None,
        smoothing=smoothing,
    )
    if keep_only == "true":
        return out.where(F.col("routed_keep")).select(*df.columns)
    return out


def _stage_dsir_weights(
    spark, stage, inputs, collector, substitutions, phase
):
    """DsirWeights transform: annotate each record with its DSIR
    importance log-weight (lm.py::dsir_logweights) against a TARGET
    corpus read from parquet; the raw model is the input stream
    itself. Properties: targetPath (required), textField ('text'),
    idField ('doc_id'), nBuckets ('256')."""
    (df,) = inputs
    p = stage.properties
    target_path = _str_prop(
        p, "targetPath", None, collector, substitutions, phase
    )
    text_col = _col_prop(p, "textField", "text", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    if not target_path:
        collector.add_failure(
            "Required property 'targetPath' is missing.",
            "Point it at a parquet corpus with the text field.",
            property_name="targetPath",
        )
    n_buckets = _int_prop(
        p, "nBuckets", 256, collector, lo=2, substitutions=substitutions,
        phase=phase, hint="An integer >= 2.",
    )
    if collector.failures:
        return df
    if phase == "deploy" and contains_macro(target_path):
        # schema-faithful placeholder until the macro resolves
        return df.withColumn(
            "n_tokens", F.lit(None).cast("bigint")
        ).withColumn("logweight", F.lit(None).cast("double"))
    from topn_spark.operators.lm import dsir_logweights

    target = spark.read.parquet(target_path)
    weights = dsir_logweights(
        df,
        target=target,
        raw=df,
        n_buckets=n_buckets,
        id_col=id_col,
        text_col=text_col,
    )
    return df.join(weights, id_col)


def _stage_langid(
    spark, stage, inputs, collector, substitutions, phase
):
    """LangId transform: classify each record's language under a
    SAVED char-n-gram Naive-Bayes model artifact
    (langid.py::load_langid — train once on labelled seed corpora,
    classify any stream) and annotate with (n_grams, lang_pred).
    Properties: modelPath (required), textField ('text'), idField
    ('doc_id'), keepScores ('false' — when 'true', also append the
    per-language score columns; requires a literal modelPath at
    deploy time since the score schema depends on the model's
    language list), keepOnly (optional language code — keep only
    records predicted as that language and drop the added columns,
    the corpus-routing deployment shape)."""
    (df,) = inputs
    p = stage.properties
    model_path = _str_prop(
        p, "modelPath", None, collector, substitutions, phase
    )
    keep_only = _str_prop(p, "keepOnly", None, collector, substitutions, phase)
    text_col = _col_prop(p, "textField", "text", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    if not model_path:
        collector.add_failure(
            "Required property 'modelPath' is missing.",
            "Point it at a save_langid artifact.",
            property_name="modelPath",
        )
    keep_scores = _choice_prop(p, "keepScores", "false", _TF, collector)
    if (
        keep_scores == "true"
        and contains_macro(model_path)
        and keep_only is None
    ):
        collector.add_failure(
            "keepScores=true needs a literal modelPath.",
            "The score columns depend on the model's language list, "
            "which a macro'd path cannot supply at deploy time.",
            property_name="keepScores",
        )
    if collector.failures:
        return df
    if phase == "deploy" and contains_macro(model_path):
        # schema-faithful placeholder: keepOnly preserves the input
        # schema; otherwise the two classification columns append
        if keep_only is not None:
            return df
        return df.withColumn(
            "n_grams", F.lit(None).cast("bigint")
        ).withColumn("lang_pred", F.lit(None).cast("string"))
    from topn_spark.operators.langid import langid_score, load_langid

    model, meta = load_langid(spark, model_path)
    scored = langid_score(
        df,
        model,
        meta,
        id_col=id_col,
        text_col=text_col,
        n_lo=meta["n_lo"],
        n_hi=meta["n_hi"],
        keep_scores=keep_scores == "true",
    )
    out = df.join(scored, id_col)
    if keep_only is not None:
        return out.where(F.col("lang_pred") == keep_only).select(
            *df.columns
        )
    return out


def _stage_warc_source(
    spark, stage, inputs, collector, substitutions, phase
):
    """Warc batchsource: read ``.warc``/``.warc.gz`` archives from a
    path (glob OK) via Spark's binaryFile source and explode them
    into WARC records (sources/warc.py::parse_warc) —
    ``(blob_id, rec_idx, warc_type, record_id, target_uri,
    warc_date, content_length, payload)``, ``blob_id`` = file path.
    Properties: path (required), strict ('true': a malformed archive
    fails the task; 'false': parse the well-formed prefix).

    Scale: the archive FILE is the unit of parallelism (one binary
    row per file, then an Arrow record walk per file) — exactly how
    a crawl dump ships (CommonCrawl: ~1 GB .warc.gz segments)."""
    p = stage.properties
    path = p.get("path")
    if not path:
        collector.add_failure(
            "Warc source needs a 'path'.", property_name="path"
        )
    strict = _choice_prop(p, "strict", "true", _TF, collector)
    if collector.failures:
        return None
    from topn_spark.sources.warc import parse_warc

    if phase == "deploy" and contains_macro(path):
        # schema is static (blob_id = file path) — validate downstream
        # against an empty typed frame, the File-source literal-schema
        # shape
        empty = local_frame(spark, [], "blob_id string, content binary")
        return parse_warc(empty, id_col="blob_id", strict=True)
    path = _str_prop(p, "path", None, collector, substitutions, phase)
    if collector.failures:
        return None
    blobs = spark.read.format("binaryFile").load(path).select(
        F.col("path").alias("blob_id"), "content"
    )
    return parse_warc(blobs, id_col="blob_id", strict=strict == "true")


def _stage_warc_parse(
    spark, stage, inputs, collector, substitutions, phase
):
    """WarcParse transform: explode a BINARY column of WARC archive
    bytes (already in a table — a crawl stored as blobs, or bytes
    from a message bus) into WARC records, the in-table sibling of
    the Warc source. Properties: contentField ('content'), idField
    ('blob_id'), strict ('true')."""
    (df,) = inputs
    p = stage.properties
    content_col = _col_prop(p, "contentField", "content", df, collector)
    id_col = _col_prop(p, "idField", "blob_id", df, collector)
    strict = _choice_prop(p, "strict", "true", _TF, collector)
    if collector.failures:
        return df
    from topn_spark.sources.warc import parse_warc

    return parse_warc(
        df, content_col=content_col, id_col=id_col,
        strict=strict == "true",
    )


#: the two LSH hash families the near-dup stages offer
_FAMILIES = ("xxhash", "md5")


def _lsh_props(p, family, collector, substitutions, phase):
    """The MinHash-LSH pair-graph knobs LeakageSafeSplit and
    NearDupCollapse share: ``(numHashes, bands, shingleSize,
    threshold)`` with family-dependent defaults, or None once the
    stage has collected any failure."""
    xx = family == "xxhash"
    num_hashes = _int_prop(
        p, "numHashes", 32 if xx else 8, collector,
        substitutions=substitutions, phase=phase,
    )
    bands = _int_prop(
        p, "bands", 8 if xx else 4, collector,
        substitutions=substitutions, phase=phase,
    )
    shingle = _int_prop(
        p, "shingleSize", 3, collector,
        substitutions=substitutions, phase=phase,
    )
    threshold = _float_prop(
        p, "threshold", "0.8" if xx else "0.5", "A number in [0, 1].",
        collector, substitutions, phase,
    )
    if collector.failures:
        return None
    if num_hashes % bands:
        collector.add_failure(
            f"numHashes ({num_hashes}) must divide into bands"
            f" ({bands}).",
            property_name="bands",
        )
        return None
    return num_hashes, bands, shingle, threshold


def _lsh_pairs(
    df, family, id_col, text_col, num_hashes, bands, shingle, threshold
):
    """Candidate near-duplicate ``(id_a, id_b)`` pairs under ``family``."""
    from topn_spark.operators.dedup import (
        lsh_pairs_md5,
        minhash_dedup_pairs,
    )

    if family == "md5":
        pairs = lsh_pairs_md5(
            df, id_col, text_col, num_hashes, bands, shingle, threshold
        )
    else:
        pairs = minhash_dedup_pairs(
            df, id_col, text_col, threshold, num_hashes, bands, shingle
        )
    return pairs.select("id_a", "id_b")


def _mixture_weights(p, plugin, weights_raw, collector):
    """The mixture stages' required ``totalTokens`` and
    ``'group:weight,group:weight'`` weights: the weights dict, or None
    while deferred by a macro or invalid."""
    if "totalTokens" not in p:
        collector.add_failure(
            f"{plugin} needs 'totalTokens'.", property_name="totalTokens"
        )
    fmt = "Format: 'group:weight,group:weight'."
    if not weights_raw:
        collector.add_failure(
            f"{plugin} needs 'weights'.", fmt, property_name="weights"
        )
        return None
    if contains_macro(weights_raw):
        return None
    try:
        weights = {
            g.strip(): float(w)
            for g, w in (
                part.split(":", 1)
                for part in weights_raw.split(",")
                if part.strip()
            )
        }
    except ValueError:
        weights = None
    if not weights:
        collector.add_failure(
            f"Unparseable weights '{weights_raw}'.", fmt,
            property_name="weights",
        )
    return weights or None


def _stage_leakage_split(
    spark, stage, inputs, collector, substitutions, phase
):
    """LeakageSafeSplit transform: near-dup-aware train/val/test
    split (pipeline.py::leakage_safe_split) — MinHash-LSH pair graph
    → connected components → deterministic md5 split keyed by the
    component label, so near-duplicate documents land in the SAME
    split (no corpus-internal eval contamination). Appends
    ``component`` and the split column. Properties: textField
    ('text'), idField ('doc_id'), splitField ('split'), family
    ('xxhash' — the fast production hash family; 'md5' — the
    engine-portable family, reproducible outside the JVM for
    cross-engine audit), threshold ('0.8' xxhash / '0.5' md5),
    numHashes, bands, shingleSize."""
    (df,) = inputs
    p = stage.properties
    out_col = p.get("splitField", "split")
    text_col = _col_prop(p, "textField", "text", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    family = _choice_prop(p, "family", "xxhash", _FAMILIES, collector)
    lsh = _lsh_props(p, family, collector, substitutions, phase)
    if lsh is None:
        return df
    if phase == "deploy":
        # schema-faithful placeholder: the connected-components
        # fixpoint EXECUTES jobs (iterative convergence check), which
        # deploy-time validation must never do
        return df.withColumn(
            "component", F.col(id_col)
        ).withColumn(out_col, F.lit(None).cast("string"))
    from topn_spark.operators.pipeline import leakage_safe_split

    # Materialize the stage input ONCE: it fans out to the LSH pair
    # graph, the CC edge checkpoint, the component join-back AND the
    # downstream stages — each would otherwise re-run the whole
    # upstream pipeline (WARC parse / extract / quality / dedup)
    # per consumer (measured: the upstream chain executed 3x per
    # z49 run, ~14 s of CPU per execution at sf0.1).
    df = df.localCheckpoint(eager=True)
    pairs = _lsh_pairs(df, family, id_col, text_col, *lsh)
    return leakage_safe_split(df, pairs, id_col=id_col, out_col=out_col)


def _stage_neardup_collapse(
    spark, stage, inputs, collector, substitutions, phase
):
    """NearDupCollapse transform: collapse MinHash-LSH near-dup
    components to ONE survivor each (dedup.neardup_keep_best) —
    keep the highest-``scoreField`` member (ties: lowest id), or
    min-id when no score is given (the x31 convention). Properties:
    textField ('text'), idField ('doc_id'), scoreField (optional),
    family ('xxhash' | 'md5'), threshold, numHashes, bands,
    shingleSize — the LeakageSafeSplit pair-graph knobs. Appends
    ``component``."""
    (df,) = inputs
    p = stage.properties
    text_col = _col_prop(p, "textField", "text", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    score_col = _col_prop(p, "scoreField", None, df, collector)
    family = _choice_prop(p, "family", "xxhash", _FAMILIES, collector)
    lsh = _lsh_props(p, family, collector, substitutions, phase)
    if lsh is None:
        return df
    if phase == "deploy":
        # the CC fixpoint executes jobs — never at validation time
        return df.withColumn("component", F.col(id_col))
    from topn_spark.operators.dedup import neardup_keep_best

    # same fan-out as LeakageSafeSplit: the stage input feeds the
    # pair graph, the CC edges, the component join-back and the
    # downstream stages — materialize it once (run phase only)
    df = df.localCheckpoint(eager=True)
    pairs = _lsh_pairs(df, family, id_col, text_col, *lsh)
    if score_col is not None:
        return neardup_keep_best(df, pairs, score_col, id_col=id_col)
    # min-id convention: rank on a constant score
    scored = df.withColumn("_nd_score", F.lit(0))
    return neardup_keep_best(
        scored, pairs, "_nd_score", id_col=id_col
    ).drop("_nd_score")


def _stage_token_budget_mixture(
    spark, stage, inputs, collector, substitutions, phase
):
    """TokenBudgetMixture transform: fill each group to its token
    quota (pipeline.token_budget_mixture — training mixes are
    specified in TOKENS). Properties: weights (required,
    'group:weight,group:weight' — e.g. 'web:0.6,code:0.2,books:0.2'),
    totalTokens (required), groupField ('source'), idField
    ('doc_id'), tokenField ('n_tokens')."""
    (df,) = inputs
    p = stage.properties
    weights_raw = _str_prop(
        p, "weights", None, collector, substitutions, phase
    )
    total = _int_prop(
        p, "totalTokens", 0, collector, lo=0,
        substitutions=substitutions, phase=phase,
    )
    group_col = _col_prop(p, "groupField", "source", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    token_col = _col_prop(p, "tokenField", "n_tokens", df, collector)
    weights = _mixture_weights(p, "TokenBudgetMixture", weights_raw, collector)
    if collector.failures or phase == "deploy" or weights is None:
        return df  # filter preserves the schema
    from topn_spark.operators.pipeline import token_budget_mixture

    return token_budget_mixture(
        df, weights, total, group_col=group_col, id_col=id_col,
        token_col=token_col,
    )


def _stage_epoch_mixture(
    spark, stage, inputs, collector, substitutions, phase
):
    """EpochMixture transform: fill each group to its token quota
    WITH REPETITION (pipeline.epoch_mixture — small domains run
    multiple epochs, the LLaMA/DoReMi mixes); appends ``n_epochs``
    repeat counts, drops zero-epoch rows. Properties: weights
    (required, 'group:weight,...'), totalTokens (required),
    maxEpochs (optional cap), groupField ('source'), idField
    ('doc_id'), tokenField ('n_tokens'), expand ('false' — when
    'true', materialize one row per (document, epoch) with the
    md5 global-interleave ``order_key`` via
    pipeline.expand_epochs; salt re-deals the interleave)."""
    (df,) = inputs
    p = stage.properties
    weights_raw = _str_prop(
        p, "weights", None, collector, substitutions, phase
    )
    total = _int_prop(
        p, "totalTokens", 0, collector, lo=0,
        substitutions=substitutions, phase=phase,
    )
    max_epochs = None
    if "maxEpochs" in p:
        max_epochs = _int_prop(
            p, "maxEpochs", 1, collector, lo=1,
            substitutions=substitutions, phase=phase,
        )
    group_col = _col_prop(p, "groupField", "source", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    token_col = _col_prop(p, "tokenField", "n_tokens", df, collector)
    weights = _mixture_weights(p, "EpochMixture", weights_raw, collector)
    expand = _choice_prop(p, "expand", "false", _TF, collector, _TF_HINT)
    if collector.failures:
        return df
    if phase == "deploy" or weights is None:
        out = df.withColumn("n_epochs", F.lit(None).cast("bigint"))
        if expand == "true":
            out = out.withColumn(
                "epoch", F.lit(None).cast("bigint")
            ).withColumn("order_key", F.lit(None).cast("string"))
        return out
    from topn_spark.operators.pipeline import epoch_mixture, expand_epochs

    mixed = epoch_mixture(
        df, weights, total, group_col=group_col, id_col=id_col,
        token_col=token_col, max_epochs=max_epochs,
    )
    if expand == "true":
        return expand_epochs(
            mixed, id_col=id_col, salt=p.get("salt", "")
        )
    return mixed


def _stage_decontaminate(
    spark, stage, inputs, collector, substitutions, phase
):
    """Decontaminate transform: benchmark decontamination by n-gram
    collision (dedup.ngram_decontaminate — the GPT-3 Appendix C
    recipe). Properties: evalPath (required — parquet of the eval
    benchmark), n ('13'), minHits ('1'), action ('flag' annotates
    n_contam_grams + contaminated; 'drop' emits clean rows in the
    input schema), textField ('text'), evalTextField (defaults to
    textField), idField ('doc_id'), countField/flagField (rename the
    flag outputs so successive gates against different benchmarks
    compose — the operator raises on a clobber)."""
    (df,) = inputs
    p = stage.properties
    count_col = p.get("countField", "n_contam_grams")
    flag_col = p.get("flagField", "contaminated")
    eval_path = _str_prop(p, "evalPath", None, collector, substitutions, phase)
    n = _int_prop(
        p, "n", 13, collector, lo=1,
        substitutions=substitutions, phase=phase,
    )
    min_hits = _int_prop(
        p, "minHits", 1, collector, lo=1,
        substitutions=substitutions, phase=phase,
    )
    text_col = _col_prop(p, "textField", "text", df, collector)
    ev_text_col = p.get("evalTextField", text_col)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    if not eval_path:
        collector.add_failure(
            "Required property 'evalPath' is missing.",
            "Point it at the eval benchmark parquet.",
            property_name="evalPath",
        )
    action = _choice_prop(
        p, "action", "flag", ("flag", "drop"), collector, "'flag' or 'drop'."
    )
    for prop, col in (("countField", count_col), ("flagField", flag_col)):
        if col in df.columns:
            collector.add_failure(
                f"Output field '{col}' already exists in the input.",
                f"Set '{prop}' so successive gates compose.",
                property_name=prop,
            )
    if collector.failures:
        return df
    if phase == "deploy" and contains_macro(eval_path):
        if action == "drop":
            return df
        return df.withColumn(
            count_col, F.lit(None).cast("bigint")
        ).withColumn(flag_col, F.lit(None).cast("boolean"))
    from topn_spark.operators.dedup import ngram_decontaminate

    eval_df = spark.read.parquet(eval_path)
    if ev_text_col not in eval_df.columns:
        collector.add_failure(
            f"Eval benchmark at '{eval_path}' has no field "
            f"'{ev_text_col}'.",
            f"Fields: {eval_df.columns}.",
            property_name="evalTextField",
        )
        return df
    return ngram_decontaminate(
        df, eval_df, n=n, text_col=text_col, id_col=id_col,
        eval_text_col=ev_text_col, min_hits=min_hits, action=action,
        count_col=count_col, flag_col=flag_col,
    )


def _stage_tokenize(
    spark, stage, inputs, collector, substitutions, phase
):
    """Tokenize transform: append the token array a packer/budgeter
    consumes. Properties: textField ('text'), mode ('unicode' —
    also 'ascii' or the CJK-aware 'script'; all JVM-side regex,
    appending ``tokens`` + ``n_tokens``) OR mergesPath (a
    save_bpe_merges artifact — apply trained byte-pair encoding,
    appending ``n_words``/``n_bpe_tokens`` and, when keepTokens is
    nonzero, ``tokens`` — '-1' keeps ALL subwords, the shape
    PackSequences consumes; bpeMode 'ascii'|'unicode'|'byte' selects
    the pre-tokenizer, idField the join-back key) OR piecesPath (a
    save_unigram_lm artifact — Viterbi-best segmentation under the
    trained piece table, appending ``n_words``/``n_lm_tokens`` and
    the same keepTokens contract; lmMode 'ascii'|'unicode')."""
    (df,) = inputs
    p = stage.properties
    if p.get("mergesPath") is not None and p.get("piecesPath") is not None:
        collector.add_failure(
            "mergesPath and piecesPath are mutually exclusive.",
            "A stage applies ONE trained tokenizer.",
            property_name="piecesPath",
        )
        return df
    merges_path = _str_prop(
        p, "mergesPath", None, collector, substitutions, phase
    )
    pieces_path = _str_prop(
        p, "piecesPath", None, collector, substitutions, phase
    )
    text_col = _col_prop(p, "textField", "text", df, collector)
    if merges_path is None and pieces_path is None:
        mode = _choice_prop(
            p, "mode", "unicode", ("ascii", "unicode", "script"), collector,
            "One of ascii, unicode, script (or set mergesPath "
            "for trained BPE).",
        )
        if collector.failures:
            return df
        from topn_spark.operators.textstats import tokens

        t = tokens(text_col, mode)
        return df.withColumn("tokens", t).withColumn(
            "n_tokens", F.size("tokens").cast("bigint")
        )
    keep = _int_prop(
        p, "keepTokens", 0, collector, lo=-1,
        substitutions=substitutions, phase=phase,
    )
    unigram = pieces_path is not None
    if unigram:
        mode = _choice_prop(
            p, "lmMode", "ascii", ("ascii", "unicode"), collector
        )
    else:
        mode = _choice_prop(
            p, "bpeMode", "byte", ("ascii", "unicode", "byte"), collector
        )
        if mode is None:
            return df
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    if collector.failures:
        return df
    path = pieces_path if unigram else merges_path
    if phase == "deploy" and contains_macro(path):
        out = df.withColumn(
            "n_words", F.lit(None).cast("bigint")
        ).withColumn(
            "n_lm_tokens" if unigram else "n_bpe_tokens",
            F.lit(None).cast("bigint"),
        )
        if keep:
            out = out.withColumn(
                "tokens", F.lit(None).cast("array<string>")
            )
        return out
    from topn_spark.operators.textstats import (
        apply_bpe,
        apply_unigram_lm,
        load_bpe_merges,
        load_unigram_lm,
    )

    load, apply = (
        (load_unigram_lm, apply_unigram_lm) if unigram
        else (load_bpe_merges, apply_bpe)
    )
    applied = apply(
        df.select(id_col, text_col), load(spark, path), id_col=id_col,
        text_col=text_col, keep_tokens=keep, mode=mode,
    )
    return df.join(applied, id_col)


def _stage_quality_classifier(
    spark, stage, inputs, collector, substitutions, phase
):
    """QualityClassifier transform: score every record under a SAVED
    logistic-regression artifact (textstats.load_logreg — train once
    with logreg_train/train_quality_classifier, gate any stream):
    featurize with add_quality, sigmoid-score with the artifact's
    weights (pure Catalyst, weights as literals). Properties:
    modelPath (required), textField ('text'), probField ('prob'),
    minProb (optional — keep only records with prob >= minProb and
    drop the added columns, the gate deployment shape; records
    without complete features score NULL and are dropped by the
    gate)."""
    (df,) = inputs
    p = stage.properties
    prob_col = p.get("probField", "prob")
    gate = p.get("minProb") is not None
    model_path = _str_prop(
        p, "modelPath", None, collector, substitutions, phase
    )
    text_col = _col_prop(p, "textField", "text", df, collector)
    if not model_path:
        collector.add_failure(
            "Required property 'modelPath' is missing.",
            "Point it at a save_logreg artifact.",
            property_name="modelPath",
        )
    min_prob = _float_prop(
        p, "minProb", None, "A number in [0, 1].", collector,
        substitutions, phase,
    )
    if collector.failures:
        return df
    if phase == "deploy" and contains_macro(model_path):
        # schema-faithful placeholder: the gate preserves the input
        # schema; annotate mode appends the feature + prob columns
        if gate:
            return df
        from topn_spark.operators.textstats import add_quality

        return add_quality(df, text_col).withColumn(
            prob_col, F.lit(None).cast("double")
        )
    from topn_spark.operators.textstats import (
        add_quality,
        load_logreg,
        logreg_predict,
    )

    weights, feature_cols = load_logreg(spark, model_path)
    feat = add_quality(df, text_col)
    missing = [c for c in feature_cols if c not in feat.columns]
    if missing:
        collector.add_failure(
            f"Artifact features {missing} not produced by the "
            "add_quality featurizer.",
            "The artifact must be trained over add_quality columns.",
            property_name="modelPath",
        )
        return df
    scored = logreg_predict(feat, weights, feature_cols, prob_col)
    if gate:
        return scored.where(F.col(prob_col) >= min_prob).select(
            *df.columns
        )
    return scored


def _stage_dedup_against(
    spark, stage, inputs, collector, substitutions, phase
):
    """DedupAgainst batchjoiner-shaped transform: cross-corpus exact
    dedup gate (dedup.dedup_against) — keep only records whose
    ``uniqueFields`` content does NOT already appear in a BASE corpus
    on disk, the incremental-ingest check a pipeline runs before
    admitting a new crawl against the existing corpus. Properties:
    basePath (required — parquet of the existing corpus), uniqueFields
    (comma list, default = all common columns). Planned as a LEFT
    ANTI join on the md5 content digest — both sides shuffle 16-byte
    keys, or broadcast when the base digest set is small."""
    (df,) = inputs
    p = stage.properties
    base_path = _str_prop(p, "basePath", None, collector, substitutions, phase)
    if not base_path:
        collector.add_failure(
            "DedupAgainst needs 'basePath'.", property_name="basePath"
        )
    uniq = _fields_prop(p, "uniqueFields", collector, df)
    if collector.failures or phase == "deploy":
        return df  # anti join preserves the schema; base unread
    from topn_spark.operators.dedup import dedup_against

    base = spark.read.parquet(base_path)
    if uniq:
        bad = [c for c in uniq if c not in base.columns]
        if bad:
            collector.add_failure(
                f"Columns {bad} not in the base corpus schema.",
                property_name="uniqueFields",
            )
            return df
    return dedup_against(df, base, subset=uniq or None)


def _stage_pii_redact(
    spark, stage, inputs, collector, substitutions, phase
):
    """PiiRedact transform: regex PII redaction
    (textstats.redact_pii — emails/IPs/phones to the standard
    placeholder tokens + per-class counts). Properties: textField
    ('text'), replaceText ('false' — when 'true', overwrite the text
    column with the redacted text and keep the input schema, the
    release-gate deployment shape)."""
    (df,) = inputs
    p = stage.properties
    text_col = _col_prop(p, "textField", "text", df, collector)
    replace_text = _choice_prop(p, "replaceText", "false", _TF, collector)
    if collector.failures:
        return df
    from topn_spark.operators.textstats import redact_pii

    out = redact_pii(df, text_col)
    if replace_text == "true":
        return out.withColumn(text_col, F.col("clean_text")).select(
            *df.columns
        )
    return out


def _stage_url_filter(
    spark, stage, inputs, collector, substitutions, phase
):
    """UrlFilter transform: domain-blocklist/allowlist source
    filtering (the UT1-style stage every web-corpus recipe runs
    before content filters — Dolma, RefinedWeb, C4 all gate on
    domain first, it is the cheapest signal): decompose the URL with
    pipeline.py::url_features and keep/drop rows whose
    ``registered_domain`` (or ``host``) is in the list. Properties:
    urlField ('url'), action ('block' — drop matches — or 'allow' —
    keep only matches), matchOn ('registered_domain' | 'host'),
    domains (comma literal list) OR domainsPath (text file, one
    domain per line, '#' comments — the artifact shape; matched via
    a broadcast-friendly join, never a collected driver set, so a
    millions-of-domains UT1 list stays executor-side). Output schema
    = input schema (feature columns are internal)."""
    (df,) = inputs
    p = stage.properties
    url_col = _col_prop(p, "urlField", "url", df, collector)
    action = _choice_prop(p, "action", "block", ("block", "allow"), collector)
    match_on = _choice_prop(
        p, "matchOn", "registered_domain", ("registered_domain", "host"),
        collector,
    )
    if (p.get("domains") is None) == (p.get("domainsPath") is None):
        collector.add_failure(
            "Exactly one of 'domains' or 'domainsPath' is required.",
            "A comma list for small literal lists, a one-per-line "
            "text file for blocklist artifacts.",
            property_name="domains",
        )
    domains_path = _str_prop(
        p, "domainsPath", None, collector, substitutions, phase
    )
    domains = _str_prop(p, "domains", None, collector, substitutions, phase)
    if collector.failures or phase == "deploy":
        return df  # filter never changes the schema
    from topn_spark.operators.pipeline import url_features

    feats = url_features(df, url_col=url_col)
    key = F.lower(F.col(match_on))
    if domains is not None:
        wanted = [
            d.strip().lower() for d in domains.split(",") if d.strip()
        ]
        hit = key.isin(wanted)
        out = feats.where(
            hit if action == "allow"
            else ~F.coalesce(hit, F.lit(False))
        )
    else:
        dlist = (
            spark.read.text(domains_path)
            .select(F.lower(F.trim("value")).alias("_dom"))
            .where(
                (F.col("_dom") != "") & ~F.col("_dom").startswith("#")
            )
            .distinct()
        )
        out = feats.join(
            dlist,
            key == F.col("_dom"),
            "left_semi" if action == "allow" else "left_anti",
        )
    return out.select(*df.columns)


def _stage_pack_sequences(
    spark, stage, inputs, collector, substitutions, phase
):
    """PackSequences transform: GPT-style packing
    (pipeline.py::pack_token_sequences) — concatenate tokenized
    documents in order and emit fixed-length training sequences
    ``(*by, seq_id, n_docs, n_tokens, tokens)``; documents split
    across boundaries, no token dropped. Properties: tokensField
    ('tokens'), idField ('doc_id'), seqLen ('2048'), orderField
    (defaults to idField), byFields (comma list — ALWAYS set at
    scale: an empty byFields is one global window partition),
    padToken (optional pad for the final short sequence), sepToken
    (optional EOS/separator appended after every document — the GPT
    convention; counts as a real training token)."""
    (df,) = inputs
    p = stage.properties
    by = tuple(_fields_prop(p, "byFields"))
    seq_len = _int_prop(
        p, "seqLen", 2048, collector,
        substitutions=substitutions, phase=phase,
    )
    tokens_col = _col_prop(p, "tokensField", "tokens", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    order_col = _col_prop(p, "orderField", id_col, df, collector)
    for c in by:
        _col_prop({}, "byFields", c, df, collector)
    if collector.failures:
        return df
    from topn_spark.operators.pipeline import pack_token_sequences

    return pack_token_sequences(
        df, tokens_col=tokens_col, id_col=id_col, seq_len=seq_len,
        by=by, order_col=order_col, pad_token=p.get("padToken"),
        sep_token=p.get("sepToken"),
    )


def _stage_shard_sink(
    spark, stage, inputs, collector, substitutions, phase
):
    """ShardSink batchsink: training-shard export
    (pipeline.py::export_training_shards) — write the corpus as
    ``path/shard=<k>/`` parquet with deterministic md5(id||salt)
    mod-nShards assignment plus a ``_manifest`` of per-shard
    doc/token counts (verify with verify_shards). Properties: path
    (required), nShards (required), idField ('doc_id'), tokenField
    (optional — manifest then also carries token counts), salt ('')."""
    (df,) = inputs
    p = stage.properties
    if not p.get("path"):
        collector.add_failure(
            "ShardSink needs a 'path'.", property_name="path"
        )
        return df
    if "nShards" not in p:
        collector.add_failure(
            "ShardSink needs 'nShards'.", property_name="nShards"
        )
        return df
    n_shards = _int_prop(
        p, "nShards", 1, collector,
        substitutions=substitutions, phase=phase,
    )
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    token_col = _col_prop(p, "tokenField", None, df, collector)
    if collector.failures or phase != "run":
        return df
    path = _str_prop(p, "path", None, collector, substitutions, phase)
    if collector.failures:
        return df
    from topn_spark.operators.pipeline import export_training_shards

    export_training_shards(
        df, path, n_shards, id_col=id_col, token_col=token_col,
        salt=p.get("salt", ""),
    )
    return df


def _stage_winrate(
    spark, stage, inputs, collector, substitutions, phase
):
    """WinRate aggregator: the arena head-to-head matrix
    (sft.pairwise_winrate — per model pair over shared scored
    prompts: wins/losses/ties + win_rate_a with ties half, best-of-n
    reduction per (prompt, model) first). Properties: promptField
    ('prompt_id'), modelField ('model'), scoreField ('score')."""
    from topn_spark.operators.sft import pairwise_winrate

    (df,) = inputs
    p = stage.properties
    prompt_col = _col_prop(p, "promptField", "prompt_id", df, collector)
    model_col = _col_prop(p, "modelField", "model", df, collector)
    score_col = _col_prop(p, "scoreField", "score", df, collector)
    if collector.failures:
        return df
    return pairwise_winrate(
        df, prompt_col=prompt_col, model_col=model_col,
        score_col=score_col,
    )


def _stage_elo_fit(
    spark, stage, inputs, collector, substitutions, phase
):
    """EloFit aggregator: Bradley–Terry strength fit over a WinRate
    matrix (sft.bradley_terry_fit — Hunter MM on the model-sized
    sufficient statistic, geometric-mean-1 anchor, Elo-scale
    rating). Runs the driver-side fit ONLY in the run phase (the fit
    collects the matrix; at deploy it propagates the empty ratings
    schema). Properties: smoothing ('0.5' — zero-win models raise
    at 0), maxIter ('1000')."""
    from topn_spark.operators.sft import bradley_terry_fit

    (df,) = inputs
    p = stage.properties
    for col in ("model_a", "model_b", "wins_a", "wins_b", "ties"):
        _col_prop({}, "input", col, df, collector)
    max_iter = _int_prop(
        p, "maxIter", 1000, collector,
        substitutions=substitutions, phase=phase,
    )
    smoothing = _float_prop(
        p, "smoothing", "0.5", "A non-negative number.", collector,
        substitutions, phase, lo=0,
    )
    if collector.failures:
        return df
    if phase != "run":
        return bradley_terry_fit(df.limit(0))
    return bradley_terry_fit(
        df, smoothing=smoothing, max_iter=max_iter
    )


def _stage_encode_ids(
    spark, stage, inputs, collector, substitutions, phase
):
    """EncodeIds transform: replace a string-token array with its
    integer-id array under a saved vocabulary artifact
    (binshard.py::encode_token_ids — the step between a string
    tokenizer and binary export; OOV raises, never substitutes).
    Properties: vocabPath (required — a save_vocab artifact),
    tokensField ('tokens'), outField (defaults to tokensField)."""
    (df,) = inputs
    p = stage.properties
    tokens_col = _col_prop(p, "tokensField", "tokens", df, collector)
    vocab_path = _str_prop(
        p, "vocabPath", None, collector, substitutions, phase
    )
    if not vocab_path:
        collector.add_failure(
            "Required property 'vocabPath' is missing.",
            "Point it at a save_vocab artifact.",
            property_name="vocabPath",
        )
    if collector.failures or (
        phase == "deploy" and contains_macro(vocab_path)
    ):
        return df
    from topn_spark.operators.binshard import (
        encode_token_ids,
        load_vocab,
    )

    vocab = load_vocab(spark, vocab_path)
    return encode_token_ids(
        df, vocab, tokens_col=tokens_col,
        out_col=p.get("outField", tokens_col),
    )


def _none_field(p, name, default):
    """An optional column property: the column name, or None when
    set to ``'none'``."""
    v = p.get(name, default)
    return None if v == "none" else v


def _shard_count_props(p, plugin, collector, substitutions, phase):
    """A binary-export sink's ``(n_shards, seqs_per_shard)``: range
    sharding when ``seqsPerShard`` is set (``n_shards`` 0), else the
    required ``nShards``; None when neither is given."""
    if "seqsPerShard" in p:
        return 0, _int_prop(
            p, "seqsPerShard", 1, collector,
            substitutions=substitutions, phase=phase,
        )
    if "nShards" not in p:
        collector.add_failure(
            f"{plugin} needs 'nShards' (or 'seqsPerShard' "
            "for range sharding).",
            property_name="nShards",
        )
        return None
    n_shards = _int_prop(
        p, "nShards", 1, collector,
        substitutions=substitutions, phase=phase,
    )
    return n_shards, None


def _bin_columns_props(p, df, collector):
    """A binary-export sink's ``(id, tokens, mask, assets, dtype)``:
    each column checked against the input (mask and assets may be
    ``'none'``), dtype one of the shard token widths."""
    id_col = _col_prop(p, "idField", "seq_id", df, collector)
    tokens_col = _col_prop(p, "tokensField", "tokens", df, collector)
    mask_col = _none_field(p, "maskField", "loss_mask")
    if mask_col is not None:
        _col_prop(p, "maskField", mask_col, df, collector)
    assets_col = _none_field(p, "assetsField", "none")
    if assets_col is not None:
        _col_prop(p, "assetsField", assets_col, df, collector)
    dtype = _choice_prop(
        p, "dtype", "auto", ("auto", "uint16", "uint32"), collector,
        "'auto', 'uint16' or 'uint32'.",
    )
    return id_col, tokens_col, mask_col, assets_col, dtype


def _stage_bin_shard_sink(
    spark, stage, inputs, collector, substitutions, phase
):
    """BinShardSink batchsink: trainer-native binary shard export
    (binshard.py::export_bin_shards) — fixed-layout .bin token
    stream + .idx sequence index + .msk loss-mask bitstream per
    shard, plus a byte-exact _manifest (verify with
    verify_bin_shards). Properties: path (required), nShards
    (required), idField ('seq_id'), tokensField ('tokens'),
    maskField ('loss_mask'; 'none' exports without a mask),
    assetsField ('none'; a multimodal asset-ref array column adds
    the .ast sidecar), dtype ('auto' | 'uint16' | 'uint32'),
    salt (''), incremental ('false'; 'true' rewrites only shards
    whose content signature changed), seqsPerShard (optional:
    RANGE sharding — shard = id // seqsPerShard, shard count grows
    with the corpus; nShards is then ignored. The streaming-
    maintenance scheme: commits touch only tail shards)."""
    (df,) = inputs
    p = stage.properties
    if not p.get("path"):
        collector.add_failure(
            "BinShardSink needs a 'path'.", property_name="path"
        )
        return df
    shards = _shard_count_props(
        p, "BinShardSink", collector, substitutions, phase
    )
    if shards is None:
        return df
    n_shards, seqs_per_shard = shards
    id_col, tokens_col, mask_col, assets_col, dtype = _bin_columns_props(
        p, df, collector
    )
    incremental = _choice_prop(
        p, "incremental", "false", _TF, collector, _TF_HINT
    )
    if collector.failures or phase != "run":
        return df
    path = _str_prop(p, "path", None, collector, substitutions, phase)
    if collector.failures:
        return df
    from topn_spark.operators.binshard import export_bin_shards

    export_bin_shards(
        df, path, n_shards, tokens_col=tokens_col,
        mask_col=mask_col, id_col=id_col, dtype=dtype,
        salt=p.get("salt", ""), assets_col=assets_col,
        incremental=incremental == "true",
        seqs_per_shard=seqs_per_shard,
    )
    return df


def _stage_validate_assets(
    spark, stage, inputs, collector, substitutions, phase
):
    """ValidateAssets batchjoiner: referential-integrity gate for
    multimodal asset references — every id in the FIRST input's
    ``refsField`` array must exist in the SECOND input's
    ``assetKey`` registry column (a dangling ref would splice a
    vision embedding from nothing, silently); appends ``n_missing``
    and ``assets_ok`` so a downstream Filter can gate BEFORE the
    binary export. Properties: refsField ('asset_ids'), assetKey
    ('asset_id'), idField (optional but RECOMMENDED: a stable
    unique row id like conv_id — the count re-join then keys on
    it). Scale shape: explode the refs (rows = image references,
    not tokens), one anti-join against the distinct registry key
    (broadcast-sized registries broadcast), one count re-agg
    joined back on the row id — the decontamination shape.

    Row-identity determinism: the two join branches re-evaluate
    the same plan, so the row id joining them back MUST be stable
    across re-evaluation — ``monotonically_increasing_id`` is NOT
    (shuffle-order nondeterminism or a task retry upstream can
    renumber rows between branches, silently attaching n_missing
    to the wrong rows and letting a dangling ref through the
    gate). With ``idField`` the join keys on the user's stable id;
    without one, the id-stamped frame is pinned with
    ``localCheckpoint`` (materialized once, both branches read the
    SAME numbering) before branching."""
    if len(inputs) != 2:
        raise ValueError(
            "ValidateAssets needs exactly 2 inputs "
            "(data, asset registry); got "
            f"{len(inputs)}"
        )
    df, registry = inputs
    p = stage.properties
    refs_col = _col_prop(p, "refsField", "asset_ids", df, collector)
    asset_key = _col_prop(p, "assetKey", "asset_id", registry, collector)
    id_field = p.get("idField")
    if id_field:
        _col_prop(p, "idField", None, df, collector)
    if collector.failures:
        return df
    if id_field:
        base = df.withColumn("_vid", F.col(id_field))
    else:
        # lazy checkpoint: pins the numbering at first evaluation
        # (eager=True would run a job during deploy-time validation)
        base = df.withColumn(
            "_vid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=(phase == "run"))
    refs = base.select(
        "_vid",
        F.explode(
            F.filter(
                F.coalesce(
                    F.col(refs_col),
                    F.array().cast(
                        df.schema[refs_col].dataType.simpleString()
                    ),
                ),
                lambda a: a.isNotNull(),
            )
        ).alias("_aid"),
    )
    reg = registry.select(
        F.col(asset_key).alias("_aid")
    ).distinct()
    missing = (
        refs.join(reg, "_aid", "left_anti")
        .groupBy("_vid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_missing"))
    )
    return (
        base.join(missing, "_vid", "left")
        .withColumn(
            "n_missing",
            F.coalesce(
                F.col("n_missing"), F.lit(0).cast("bigint")
            ),
        )
        .withColumn("assets_ok", F.col("n_missing") == 0)
        .drop("_vid")
    )


def _stage_pack_multimodal(
    spark, stage, inputs, collector, substitutions, phase
):
    """PackMultimodal transform: mask- AND asset-binding-preserving
    sequence packing (pipeline.py::pack_multimodal_sequences) —
    every packed sequence carries the assets whose placeholders
    physically landed in it, in placeholder order. Properties:
    seqLen (required), idField ('conv_id'), tokensField ('tokens'),
    maskField ('loss_mask'), assetsField ('asset_ids'), imageToken
    ('<|image|>'), sepToken (optional), sepSupervised ('false')."""
    (df,) = inputs
    p = stage.properties
    if "seqLen" not in p:
        collector.add_failure(
            "PackMultimodal needs 'seqLen'.",
            property_name="seqLen",
        )
        return df
    seq_len = _int_prop(
        p, "seqLen", 1, collector,
        substitutions=substitutions, phase=phase,
    )
    id_col = _col_prop(p, "idField", "conv_id", df, collector)
    tokens_col = _col_prop(p, "tokensField", "tokens", df, collector)
    mask_col = _col_prop(p, "maskField", "loss_mask", df, collector)
    assets_col = _col_prop(p, "assetsField", "asset_ids", df, collector)
    sep_sup = _choice_prop(
        p, "sepSupervised", "false", _TF, collector, _TF_HINT, fold=True
    )
    if collector.failures:
        return df
    from topn_spark.operators.pipeline import (
        pack_multimodal_sequences,
    )

    return pack_multimodal_sequences(
        df,
        tokens_col=tokens_col,
        mask_col=mask_col,
        assets_col=assets_col,
        id_col=id_col,
        seq_len=seq_len,
        order_col=id_col,
        image_token=p.get("imageToken", "<|image|>"),
        sep_token=p.get("sepToken"),
        sep_supervised=sep_sup == "true",
    )


def _stage_bin_export_sink(
    spark, stage, inputs, collector, substitutions, phase
):
    """BinExportSink batchsink: batch-proportional MAINTENANCE of a
    trainer binary shard set (streaming/ingest.py::
    bin_export_batch) — the spec-addressable form of the streaming
    maintenance path: under ``run_streaming_pipeline`` every
    micro-batch replays this stage with ``${batchId}`` bound to the
    Structured Streaming batch id, so the batch lands in the
    shard-partitioned corpus store and the shard set re-exports by
    signature fold + partition-pruned rewrite (a plain BinShardSink
    in a streaming spec would OVERWRITE the set with each batch's
    rows — the wrong semantics for accumulation). Also usable from
    batch specs for scheduled append jobs by passing batchId
    explicitly. Properties: corpusPath (required — the
    shard-partitioned parquet store), path (required — the binary
    shard set), nShards OR seqsPerShard (range sharding — the flat
    per-commit scheme for streaming ids), batchId ('${batchId}'
    under streaming; an integer >= 0), idField ('seq_id'),
    tokensField ('tokens'), maskField ('loss_mask'; 'none'),
    assetsField ('none'), dtype ('auto'), salt (''), epochs
    (optional comma-separated epoch numbers to re-derive after
    content-changing commits), epochSalt ('')."""
    (df,) = inputs
    p = stage.properties
    if not p.get("corpusPath"):
        collector.add_failure(
            "BinExportSink needs a 'corpusPath'.",
            property_name="corpusPath",
        )
    if not p.get("path"):
        collector.add_failure(
            "BinExportSink needs a 'path'.", property_name="path"
        )
    shards = _shard_count_props(
        p, "BinExportSink", collector, substitutions, phase
    )
    if shards is None:
        return df
    n_shards, seqs_per_shard = shards
    batch_id = _int_prop(
        p, "batchId", 0, collector, lo=0,
        substitutions=substitutions, phase=phase,
    )
    epochs_raw = p.get("epochs", "")
    epochs: tuple[int, ...] = ()
    if epochs_raw:
        try:
            epochs = tuple(
                int(x) for x in str(epochs_raw).split(",")
            )
        except ValueError:
            collector.add_failure(
                f"Invalid epochs '{epochs_raw}'.",
                "Comma-separated integers.",
                property_name="epochs",
            )
    id_col, tokens_col, mask_col, assets_col, dtype = _bin_columns_props(
        p, df, collector
    )
    if collector.failures or phase != "run":
        return df
    corpus_path = _str_prop(
        p, "corpusPath", None, collector, substitutions, phase
    )
    path = _str_prop(p, "path", None, collector, substitutions, phase)
    if collector.failures:
        return df
    from topn_spark.streaming.ingest import bin_export_batch

    bin_export_batch(
        df, corpus_path, path, batch_id, n_shards,
        tokens_col=tokens_col, mask_col=mask_col,
        id_col=id_col, dtype=dtype, salt=p.get("salt", ""),
        assets_col=assets_col, epochs=epochs,
        epoch_salt=p.get("epochSalt", ""),
        seqs_per_shard=seqs_per_shard,
    )
    return df


def _stage_preference_bin_shard_sink(
    spark, stage, inputs, collector, substitutions, phase
):
    """PreferenceBinShardSink batchsink: paired chosen/rejected
    binary export (binshard.py::export_preference_shards) — each
    pair lands as adjacent even/odd sequences of one shard, the
    DPO-trainer shape. Properties: path (required), nShards
    (required), pairIdField ('pair_id'), chosenTokensField
    ('chosen_tokens'), rejectedTokensField ('rejected_tokens'),
    chosenMaskField / rejectedMaskField ('chosen_mask' /
    'rejected_mask'; BOTH 'none' exports mask-less), dtype
    ('auto'), salt (''), incremental ('false')."""
    (df,) = inputs
    p = stage.properties
    if not p.get("path"):
        collector.add_failure(
            "PreferenceBinShardSink needs a 'path'.",
            property_name="path",
        )
        return df
    if "nShards" not in p:
        collector.add_failure(
            "PreferenceBinShardSink needs 'nShards'.",
            property_name="nShards",
        )
        return df
    n_shards = _int_prop(
        p, "nShards", 1, collector,
        substitutions=substitutions, phase=phase,
    )
    cm = _none_field(p, "chosenMaskField", "chosen_mask")
    rm = _none_field(p, "rejectedMaskField", "rejected_mask")
    if (cm is None) != (rm is None):
        collector.add_failure(
            "chosenMaskField/rejectedMaskField must both be set "
            "or both be 'none'.",
            property_name="chosenMaskField",
        )
        return df
    pair_col = _col_prop(p, "pairIdField", "pair_id", df, collector)
    ct = _col_prop(p, "chosenTokensField", "chosen_tokens", df, collector)
    rt = _col_prop(p, "rejectedTokensField", "rejected_tokens", df, collector)
    if cm is not None:
        _col_prop(p, "chosenMaskField", cm, df, collector)
        _col_prop(p, "rejectedMaskField", rm, df, collector)
    if collector.failures or phase != "run":
        return df
    path = _str_prop(p, "path", None, collector, substitutions, phase)
    if collector.failures:
        return df
    from topn_spark.operators.binshard import (
        export_preference_shards,
    )

    export_preference_shards(
        df, path, n_shards,
        pair_id_col=pair_col,
        chosen_tokens_col=ct,
        rejected_tokens_col=rt,
        chosen_mask_col=cm,
        rejected_mask_col=rm,
        dtype=p.get("dtype", "auto"),
        salt=p.get("salt", ""),
        incremental=p.get("incremental", "false") == "true",
    )
    return df


def _stage_tag_attributes(
    spark, stage, inputs, collector, substitutions, phase
):
    """TagAttributes transform: evaluate the doc-level tagger
    registry (attributes.py::tag_attributes) in one map-only scan
    and emit the SIDECAR rows (idField + one column per tagger) —
    route them to a FileSink beside the corpus, then re-mix with
    the Mixer stage as often as thresholds change. Properties:
    taggers (optional CSV of registry names; default = the full
    registry), idField ('doc_id'), textField ('text'). With a
    macro-deferred taggers list the deploy-time schema is
    unknowable, so the stage passes its input through at deploy and
    resolves at run."""
    from topn_spark.operators.attributes import (
        DOC_TAGGER_TYPES,
        DOC_TAGGERS,
        tag_attributes,
    )

    (df,) = inputs
    p = stage.properties
    taggers_raw = _str_prop(
        p, "taggers", None, collector, substitutions, phase
    )
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    text_col = _col_prop(p, "textField", "text", df, collector)
    names = None
    if taggers_raw and not contains_macro(taggers_raw):
        names = [t.strip() for t in taggers_raw.split(",") if t.strip()]
        unknown = [n for n in names if n not in DOC_TAGGERS]
        if unknown:
            collector.add_failure(
                f"Unknown tagger(s) {unknown}.",
                f"Registered: {list(DOC_TAGGERS)}.",
                property_name="taggers",
            )
        if not names:
            collector.add_failure(
                "taggers must name at least one tagger.",
                property_name="taggers",
            )
    if collector.failures:
        return df
    if phase == "deploy" and contains_macro(taggers_raw or ""):
        return df
    if phase == "deploy":
        out = df.select(id_col)
        for n in names or list(DOC_TAGGERS):
            out = out.withColumn(
                n, F.lit(None).cast(DOC_TAGGER_TYPES[n])
            )
        return out
    return tag_attributes(df, names, id_col=id_col, text_col=text_col)


def _stage_mixer(
    spark, stage, inputs, collector, substitutions, phase
):
    """Mixer transform: produce a corpus mix from declarative rules
    over a pre-computed attribute sidecar (attributes.py::
    apply_mixer — Dolma mixer semantics: keep iff some include
    AND-list matches and no exclude AND-list does, NULL attributes
    match nothing; then span_replacement splices). Properties:
    config (required JSON: {"include": [[[attr, op, value], ...],
    ...], "exclude": [...], "span_replacement": [{"span": ...,
    "replacement": ...}]}), attributesPath (required — the sidecar
    parquet written by TagAttributes + FileSink), idField
    ('doc_id'), textField ('text'). Output keeps the input schema
    (the filter deployment shape), so the macro-deferred deploy
    placeholder is the input itself."""
    import json

    from topn_spark.operators.attributes import apply_mixer, mixer_errors

    (df,) = inputs
    p = stage.properties
    text_col = p.get("textField", "text")
    config_raw = _str_prop(p, "config", None, collector, substitutions, phase)
    attrs_path = _str_prop(
        p, "attributesPath", None, collector, substitutions, phase
    )
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    for prop, val in (("config", config_raw),
                      ("attributesPath", attrs_path)):
        if not val:
            collector.add_failure(
                f"Required property '{prop}' is missing.",
                property_name=prop,
            )
    config = None
    if config_raw and not contains_macro(config_raw):
        try:
            config = json.loads(config_raw)
        except ValueError:
            collector.add_failure(
                f"config is not valid JSON: {config_raw[:80]!r}.",
                "The mixer rule object.",
                property_name="config",
            )
        if config is not None and not isinstance(config, dict):
            collector.add_failure(
                "config must be a JSON object.",
                property_name="config",
            )
            config = None
    if collector.failures or (
        phase == "deploy"
        and (
            contains_macro(config_raw or "")
            or contains_macro(attrs_path or "")
        )
    ):
        return df
    attrs = spark.read.parquet(attrs_path)
    if id_col not in attrs.columns:
        collector.add_failure(
            f"Attribute sidecar at '{attrs_path}' has no id field "
            f"'{id_col}'.",
            f"Fields: {attrs.columns}.",
            property_name="attributesPath",
        )
        return df
    errs = mixer_errors(config, attrs.columns)
    if any(
        isinstance(rule, dict) and "span" in rule
        for rule in (config or {}).get("span_replacement", []) or []
    ):
        _col_prop(p, "textField", "text", df, collector)
    if errs:
        for e in errs:
            collector.add_failure(
                f"Invalid mixer config: {e}.", property_name="config"
            )
        return df
    try:
        return apply_mixer(
            df, attrs, config, id_col=id_col, text_col=text_col
        )
    except ValueError as exc:  # column clash
        collector.add_failure(str(exc), property_name="config")
        return df


def _stage_conversation_qc(
    spark, stage, inputs, collector, substitutions, phase
):
    """ConversationQc transform: structural SFT-conversation gate
    (sft.conversation_qc — roles from the allowed set, system only
    first, strict user/assistant alternation, non-empty content,
    assistant-final; per-rule flags + first-failure qc_reason).
    Properties: messagesField ('messages'), allowedRoles (CSV,
    default 'system,user,assistant'), keepOnly ('false' — when
    'true', admit only qc_pass rows and emit the INPUT schema, the
    gate deployment shape)."""
    from topn_spark.operators.sft import conversation_qc

    (df,) = inputs
    p = stage.properties
    messages_col = _col_prop(p, "messagesField", "messages", df, collector)
    roles = tuple(
        _fields_prop(p, "allowedRoles", default="system,user,assistant")
    )
    if not roles:
        collector.add_failure(
            "allowedRoles must name at least one role.",
            property_name="allowedRoles",
        )
    keep_only = _choice_prop(p, "keepOnly", "false", _TF, collector, _TF_HINT)
    if collector.failures:
        return df
    out = conversation_qc(df, messages_col, allowed_roles=roles)
    if keep_only == "true":
        return out.where(F.col("qc_pass")).select(*df.columns)
    return out


def _stage_render_chat(
    spark, stage, inputs, collector, substitutions, phase
):
    """RenderChat transform: flatten message arrays to training text
    under a named chat template (sft.render_chat — 'chatml' or
    'plain'). Properties: messagesField ('messages'), template
    ('chatml'), outField ('text')."""
    from topn_spark.operators.sft import CHAT_TEMPLATES, render_chat

    (df,) = inputs
    p = stage.properties
    out_col = p.get("outField", "text")
    messages_col = _col_prop(p, "messagesField", "messages", df, collector)
    template = _choice_prop(
        p, "template", "chatml", CHAT_TEMPLATES, collector,
        f"One of {list(CHAT_TEMPLATES)}.", label="template",
    )
    if collector.failures:
        return df
    return render_chat(
        df, messages_col, template=template, out_col=out_col
    )


def _stage_fim(
    spark, stage, inputs, collector, substitutions, phase
):
    """FimTransform transform: deterministic fill-in-the-middle
    (pipeline.py::fim_transform — Bavarian et al. 2022 PSM/SPM with
    md5-derived gates and cut points). Properties: textField
    ('text'), idField ('doc_id'), rate ('0.5'), spmRate ('0.5'),
    prefixToken/middleToken/suffixToken (the sentinels), outField
    (defaults to textField), salt ('')."""
    (df,) = inputs
    p = stage.properties
    text_col = _col_prop(p, "textField", "text", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    rate, spm_rate = (
        _float_prop(
            p, prop, "0.5", "A fraction in [0, 1].", collector,
            substitutions, phase, lo=0.0, hi=1.0,
        )
        for prop in ("rate", "spmRate")
    )
    if collector.failures:
        return df
    from topn_spark.operators.pipeline import fim_transform

    return fim_transform(
        df, text_col=text_col, id_col=id_col,
        rate=rate, spm_rate=spm_rate,
        prefix_token=p.get("prefixToken", "<fim_prefix>"),
        middle_token=p.get("middleToken", "<fim_middle>"),
        suffix_token=p.get("suffixToken", "<fim_suffix>"),
        out_col=p.get("outField"), salt=p.get("salt", ""),
    )


def _stage_token_windows(
    spark, stage, inputs, collector, substitutions, phase
):
    """TokenWindows transform: token-level sliding windows for
    long-document chunking (pipeline.py::token_windows — overlapping
    stride windows, clipped tails, one row per window). Properties:
    tokensField ('tokens'), idField ('doc_id'), window ('2048'),
    stride ('1024' — must be in [1, window])."""
    (df,) = inputs
    p = stage.properties
    window = _int_prop(
        p, "window", 2048, collector, lo=1,
        substitutions=substitutions, phase=phase,
    )
    stride = _int_prop(
        p, "stride", 1024, collector, lo=1,
        substitutions=substitutions, phase=phase,
    )
    tokens_col = _col_prop(p, "tokensField", "tokens", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    if window is not None and stride is not None and stride > window:
        collector.add_failure(
            f"stride ({stride}) exceeds window ({window}).",
            "Use stride <= window.",
            property_name="stride",
        )
    if collector.failures:
        return df
    from topn_spark.operators.pipeline import token_windows

    return token_windows(
        df, tokens_col=tokens_col, id_col=id_col,
        window=window, stride=stride,
    )


def _stage_loss_mask(
    spark, stage, inputs, collector, substitutions, phase
):
    """LossMask transform: the SFT render->supervise step in one
    stage — render the conversation under the template, derive the
    assistant-content char spans (sft.loss_spans), convert them to a
    whitespace-token supervise mask (sft.token_loss_mask), and emit
    PACKABLE columns: ``outField`` (rendered text), ``tokens``
    (array<string> — plain tokens, offsets dropped), ``loss_mask``
    (aligned booleans) and ``n_supervised``. Feed the output to
    PackMasked so the mask survives packing. Properties:
    messagesField ('messages'), template ('chatml'), lossRole
    ('assistant'), outField ('text')."""
    from topn_spark.operators.sft import (
        CHAT_TEMPLATES,
        loss_spans,
        token_loss_mask,
    )

    (df,) = inputs
    p = stage.properties
    loss_role = p.get("lossRole", "assistant")
    out_col = p.get("outField", "text")
    messages_col = _col_prop(p, "messagesField", "messages", df, collector)
    template = _choice_prop(
        p, "template", "chatml", CHAT_TEMPLATES, collector,
        f"One of {list(CHAT_TEMPLATES)}.", label="template",
    )
    if collector.failures:
        return df
    spanned = loss_spans(
        df, messages_col, template=template, loss_role=loss_role,
        text_col=out_col,
    )
    masked = token_loss_mask(spanned, text_col=out_col)
    return masked.withColumn(
        "tokens", F.transform("tokens", lambda t: t["tok"])
    )


def _stage_pack_masked(
    spark, stage, inputs, collector, substitutions, phase
):
    """PackMasked transform: mask-preserving sequence packing
    (pipeline.py::pack_masked_sequences) — concat-and-chunk packing
    where every packed sequence carries an ALIGNED per-token loss
    mask plus n_supervised, so SFT shards stay trainable. NULL or
    misaligned masks fail at execution with the document id.
    Properties: tokensField ('tokens'), maskField ('loss_mask'),
    idField ('doc_id'), seqLen ('2048'), orderField (defaults to
    idField), byFields (comma list — ALWAYS set at scale), padToken
    (pad positions are never supervised), sepToken, sepSupervised
    ('false' — 'true' when the EOS after an assistant turn should be
    learned)."""
    (df,) = inputs
    p = stage.properties
    by = tuple(_fields_prop(p, "byFields"))
    seq_len = _int_prop(
        p, "seqLen", 2048, collector,
        substitutions=substitutions, phase=phase,
    )
    tokens_col = _col_prop(p, "tokensField", "tokens", df, collector)
    mask_col = _col_prop(p, "maskField", "loss_mask", df, collector)
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    order_col = _col_prop(p, "orderField", id_col, df, collector)
    for c in by:
        _col_prop({}, "byFields", c, df, collector)
    sep_sup = _choice_prop(
        p, "sepSupervised", "false", _TF, collector, _TF_HINT, fold=True
    )
    if collector.failures:
        return df
    from topn_spark.operators.pipeline import pack_masked_sequences

    return pack_masked_sequences(
        df, tokens_col=tokens_col, mask_col=mask_col, id_col=id_col,
        seq_len=seq_len, by=by, order_col=order_col,
        pad_token=p.get("padToken"), sep_token=p.get("sepToken"),
        sep_supervised=sep_sup == "true",
    )


def _stage_bpe_loss_mask(
    spark, stage, inputs, collector, substitutions, phase
):
    """BpeLossMask transform: expand the whitespace-token supervise
    mask to trained-tokenizer subtokens (sft.bpe_loss_mask — the
    same merge walk as Tokenize's mergesPath path, so SFT and
    pretraining token counts reconcile). Run it between LossMask and
    PackMasked when the trainer consumes BPE ids. Properties:
    mergesPath (required — a save_bpe_merges artifact), idField
    ('conv_id'), tokensField ('tokens'), maskField ('loss_mask'),
    mode ('byte' | 'char')."""
    (df,) = inputs
    p = stage.properties
    id_col = _col_prop(p, "idField", "conv_id", df, collector)
    tokens_col = _col_prop(p, "tokensField", "tokens", df, collector)
    mask_col = _col_prop(p, "maskField", "loss_mask", df, collector)
    if not p.get("mergesPath"):
        collector.add_failure(
            "Required property 'mergesPath' is missing.",
            "Point it at a save_bpe_merges artifact.",
            property_name="mergesPath",
        )
    mode = _choice_prop(
        p, "mode", "byte", ("byte", "char"), collector, "'byte' or 'char'."
    )
    merges_path = _str_prop(
        p, "mergesPath", None, collector, substitutions, phase
    )
    if collector.failures or (
        phase == "deploy" and contains_macro(merges_path)
    ):
        return df
    from topn_spark.operators.sft import bpe_loss_mask
    from topn_spark.operators.textstats import load_bpe_merges

    merges = load_bpe_merges(spark, merges_path)
    return bpe_loss_mask(
        df, merges, id_col=id_col, tokens_col=tokens_col,
        mask_col=mask_col, mode=mode,
    )


def _stage_redact_conversation(
    spark, stage, inputs, collector, substitutions, phase
):
    """RedactConversation transform: in-place per-turn PII redaction
    for SFT message arrays (sft.redact_conversation — standard
    patterns/placeholders, per-class counts over the original
    turns). Properties: messagesField ('messages')."""
    from topn_spark.operators.sft import redact_conversation

    (df,) = inputs
    p = stage.properties
    messages_col = _col_prop(p, "messagesField", "messages", df, collector)
    if collector.failures:
        return df
    return redact_conversation(df, messages_col)


def _stage_preference_pairs(
    spark, stage, inputs, collector, substitutions, phase
):
    """PreferencePairs aggregator: DPO/RLHF reward-data construction
    (sft.preference_pairs — per prompt, chosen/rejected extremes with
    deterministic tiebreaks, positive-margin filter). Properties:
    promptField ('prompt_id'), scoreField ('score'), idField
    ('sample_id'), responseField ('response'), minGap ('0')."""
    from topn_spark.operators.sft import preference_pairs

    (df,) = inputs
    p = stage.properties
    prompt_col = _col_prop(p, "promptField", "prompt_id", df, collector)
    score_col = _col_prop(p, "scoreField", "score", df, collector)
    id_col = _col_prop(p, "idField", "sample_id", df, collector)
    response_col = _col_prop(p, "responseField", "response", df, collector)
    min_gap = _float_prop(
        p, "minGap", "0", "A number >= 0.", collector,
        substitutions, phase, lo=0,
    )
    if collector.failures:
        return df
    return preference_pairs(
        df, prompt_col=prompt_col, score_col=score_col,
        id_col=id_col, response_col=response_col, min_gap=min_gap,
    )


def _stage_loss_spans(
    spark, stage, inputs, collector, substitutions, phase
):
    """LossSpans transform: render + assistant-content char spans for
    loss masking (sft.loss_spans — same template arithmetic as
    RenderChat, 0-based half-open offsets, loss_chars/total_chars).
    Properties: messagesField ('messages'), template ('chatml'),
    lossRole ('assistant')."""
    from topn_spark.operators.sft import CHAT_TEMPLATES, loss_spans

    (df,) = inputs
    p = stage.properties
    loss_role = p.get("lossRole", "assistant")
    messages_col = _col_prop(p, "messagesField", "messages", df, collector)
    template = _choice_prop(
        p, "template", "chatml", CHAT_TEMPLATES, collector,
        f"One of: {', '.join(CHAT_TEMPLATES)}.", label="template",
    )
    if collector.failures:
        return df
    return loss_spans(
        df, messages_col, template=template, loss_role=loss_role
    )


def _stage_kto_labels(
    spark, stage, inputs, collector, substitutions, phase
):
    """KtoLabels transform: unpaired binary preference labels
    (sft.kto_labels — label = score >= fixed threshold or per-prompt
    mean of the validly-scored samples; NULL scores keep NULL labels,
    n_valid rides along). Properties: promptField ('prompt_id'),
    scoreField ('score'), threshold (optional number; macro-able —
    absent means the per-prompt mean reference point)."""
    from topn_spark.operators.sft import kto_labels

    (df,) = inputs
    p = stage.properties
    prompt_col = _col_prop(p, "promptField", "prompt_id", df, collector)
    score_col = _col_prop(p, "scoreField", "score", df, collector)
    threshold = _float_prop(
        p, "threshold", None, "A number, or omit for the per-prompt mean.",
        collector, substitutions, phase,
    )
    if collector.failures:
        return df
    return kto_labels(
        df, prompt_col=prompt_col, score_col=score_col,
        threshold=threshold,
    )


def _stage_epoch_shuffle(
    spark, stage, inputs, collector, substitutions, phase
):
    """EpochShuffle transform: deterministic between-epoch reshuffle
    (pipeline.epoch_shuffle — epoch-salted md5 key, mod-n_shards
    assignment, exact per-shard positions). Properties: epoch
    (required int, macro-able), numShards (required int >= 1,
    macro-able), idField ('doc_id')."""
    from topn_spark.operators.pipeline import epoch_shuffle

    (df,) = inputs
    p = stage.properties
    id_col = _col_prop(p, "idField", "doc_id", df, collector)
    vals = {}
    for prop, lo in (("epoch", 0), ("numShards", 1)):
        if p.get(prop) is None:
            collector.add_failure(
                f"Required property '{prop}' is missing.",
                "Provide an integer.",
                property_name=prop,
            )
            continue
        vals[prop] = _int_prop(
            p, prop, lo, collector, lo=lo, substitutions=substitutions,
            phase=phase, hint=f"An integer >= {lo}.",
        )
    if collector.failures:
        return df
    return epoch_shuffle(
        df, epoch=vals["epoch"], n_shards=vals["numShards"],
        id_col=id_col,
    )


def _stage_truncate_conversation(
    spark, stage, inputs, collector, substitutions, phase
):
    """TruncateConversation transform: context-budget suffix
    truncation (sft.truncate_conversation — system pinned, longest
    fitting suffix of turns, over_budget observable). Properties:
    messagesField ('messages'), maxChars (required int >= 0,
    macro-able), keepSystem ('true')."""
    from topn_spark.operators.sft import truncate_conversation

    (df,) = inputs
    p = stage.properties
    keep_system = p.get("keepSystem", "true").lower() != "false"
    messages_col = _col_prop(p, "messagesField", "messages", df, collector)
    if p.get("maxChars") is None:
        collector.add_failure(
            "Required property 'maxChars' is missing.",
            "Provide an integer >= 0.",
            property_name="maxChars",
        )
        return df
    max_chars = _int_prop(
        p, "maxChars", 0, collector, lo=0, substitutions=substitutions,
        phase=phase, hint="An integer >= 0.",
    )
    if collector.failures:
        return df
    return truncate_conversation(
        df,
        messages_col=messages_col,
        max_chars=max_chars,
        keep_system=keep_system,
    )


def _stage_json_output_qc(
    spark, stage, inputs, collector, substitutions, phase
):
    """JsonOutputQc transform: structured-output validity gate
    (sft.json_output_qc — is_valid_json / is_object / missing_keys /
    qc_pass). Properties: field ('response'), requiredKeys
    (comma-separated, optional), keepOnly ('false' — drop failing
    rows when 'true')."""
    from topn_spark.operators.sft import json_output_qc

    (df,) = inputs
    p = stage.properties
    keys = tuple(_fields_prop(p, "requiredKeys"))
    keep_only = p.get("keepOnly", "false").lower() == "true"
    col = _col_prop(p, "field", "response", df, collector)
    if collector.failures:
        return df
    out = json_output_qc(df, col=col, required_keys=keys)
    if keep_only:
        out = out.where(F.col("qc_pass")).drop(
            "is_valid_json", "is_object", "missing_keys", "qc_pass"
        )
    return out


def _stage_canonical_url(
    spark, stage, inputs, collector, substitutions, phase
):
    """CanonicalUrl transform: URL canonicalization for web-corpus
    dedup (pipeline.canonical_url — lowercase scheme/host, strip
    fragment/default ports/tracking params, sort params, trim
    trailing slash). Properties: urlField ('url'), outField
    ('canonical_url')."""
    from topn_spark.operators.pipeline import canonical_url

    (df,) = inputs
    p = stage.properties
    out_col = p.get("outField", "canonical_url")
    url_col = _col_prop(p, "urlField", "url", df, collector)
    if collector.failures:
        return df
    return canonical_url(df, url_col=url_col, out_col=out_col)


#: plugin registry: (expected stage type, handler)
PLUGINS: dict[str, tuple[str, Callable]] = {
    "File": ("batchsource", _stage_source),
    "SyntheticDocs": ("batchsource", _stage_source),
    "Projection": ("transform", _stage_projection),
    "Filter": ("transform", _stage_filter),
    "SQL": ("transform", _stage_sql),
    "Deduplicate": ("batchaggregator", _stage_dedup),
    "GroupByAggregate": ("batchaggregator", _stage_groupby),
    "TopN": ("batchaggregator", _stage_topn),
    "Joiner": ("batchjoiner", _stage_joiner),
    "Union": ("batchjoiner", _stage_union),
    "Window": ("transform", _stage_window),
    "HtmlExtract": ("transform", _stage_html_extract),
    "QualityScore": ("transform", _stage_quality_score),
    "ScriptProfile": ("transform", _stage_script_profile),
    "NormalizeUnicode": ("transform", _stage_normalize_unicode),
    "GopherRules": ("transform", _stage_gopher_rules),
    "GopherRepetition": ("transform", _stage_gopher_repetition),
    "C4LineFilter": ("transform", _stage_c4_line_filter),
    "PerplexityFilter": ("transform", _stage_perplexity_filter),
    "RoutedQuality": ("transform", _stage_routed_quality),
    "DsirWeights": ("transform", _stage_dsir_weights),
    "LangId": ("transform", _stage_langid),
    "Warc": ("batchsource", _stage_warc_source),
    "WarcParse": ("transform", _stage_warc_parse),
    "LeakageSafeSplit": ("transform", _stage_leakage_split),
    "UrlFilter": ("transform", _stage_url_filter),
    "NearDupCollapse": ("transform", _stage_neardup_collapse),
    "TokenBudgetMixture": ("transform", _stage_token_budget_mixture),
    "EpochMixture": ("transform", _stage_epoch_mixture),
    "Decontaminate": ("transform", _stage_decontaminate),
    "TagAttributes": ("transform", _stage_tag_attributes),
    "Mixer": ("transform", _stage_mixer),
    "ConversationQc": ("transform", _stage_conversation_qc),
    "RenderChat": ("transform", _stage_render_chat),
    "LossMask": ("transform", _stage_loss_mask),
    "PackMasked": ("transform", _stage_pack_masked),
    "FimTransform": ("transform", _stage_fim),
    "TokenWindows": ("transform", _stage_token_windows),
    "BpeLossMask": ("transform", _stage_bpe_loss_mask),
    "RedactConversation": ("transform", _stage_redact_conversation),
    "LossSpans": ("transform", _stage_loss_spans),
    "PreferencePairs": ("batchaggregator", _stage_preference_pairs),
    "WinRate": ("batchaggregator", _stage_winrate),
    "EloFit": ("batchaggregator", _stage_elo_fit),
    "KtoLabels": ("transform", _stage_kto_labels),
    "EpochShuffle": ("transform", _stage_epoch_shuffle),
    "TruncateConversation": ("transform", _stage_truncate_conversation),
    "JsonOutputQc": ("transform", _stage_json_output_qc),
    "CanonicalUrl": ("transform", _stage_canonical_url),
    "PiiRedact": ("transform", _stage_pii_redact),
    "QualityClassifier": ("transform", _stage_quality_classifier),
    "DedupAgainst": ("transform", _stage_dedup_against),
    "Tokenize": ("transform", _stage_tokenize),
    "PackSequences": ("transform", _stage_pack_sequences),
    "EncodeIds": ("transform", _stage_encode_ids),
    "FileSink": ("batchsink", _stage_sink),
    "ShardSink": ("batchsink", _stage_shard_sink),
    "BinShardSink": ("batchsink", _stage_bin_shard_sink),
    "BinExportSink": ("batchsink", _stage_bin_export_sink),
    "ValidateAssets": ("batchjoiner", _stage_validate_assets),
    "PackMultimodal": ("transform", _stage_pack_multimodal),
    "PreferenceBinShardSink": (
        "batchsink", _stage_preference_bin_shard_sink,
    ),
}

#: sink plugins double-book under the source name for CDAP parity
PLUGINS["File.sink"] = ("batchsink", _stage_sink)


def _topo_order(stages, connections, collector):
    names = {s.name for s in stages}
    indeg = {s.name: 0 for s in stages}
    adj: dict[str, list[str]] = {s.name: [] for s in stages}
    inputs: dict[str, list[str]] = {s.name: [] for s in stages}
    for c in connections:
        a, b = c["from"], c["to"]
        if a not in names or b not in names:
            collector.add_failure(
                f"Connection {a} -> {b} references an unknown stage."
            )
            continue
        adj[a].append(b)
        inputs[b].append(a)
        indeg[b] += 1
    order, queue = [], sorted(n for n, d in indeg.items() if d == 0)
    while queue:
        n = queue.pop(0)
        order.append(n)
        for m in adj[n]:
            indeg[m] -= 1
            if indeg[m] == 0:
                queue.append(m)
        queue.sort()
    if len(order) != len(stages):
        cyc = sorted(n for n, d in indeg.items() if d > 0)
        collector.add_failure(
            f"Pipeline DAG has a cycle involving {cyc}."
        )
    return order, inputs


def _walk(
    spark: SparkSession,
    spec: dict,
    substitutions: dict | None,
    phase: str,
    source: tuple[str, DataFrame] | None = None,
    sink_mode: str | None = None,
) -> dict[str, DataFrame]:
    """The one DAG walker: check stage names, plugins and declared
    types, topo-order the DAG, then run every stage's handler in
    ``phase`` with its own FailureCollector and raise ALL stages'
    failures together, each prefixed with its stage. ``source`` =
    ``(name, df)`` injects ``df`` as that stage's output instead of
    running its handler (the stage need not be in the spec);
    ``sink_mode`` overrides every sink's write ``mode``."""
    stages = [
        Stage(
            s["name"], s.get("type", ""), s["plugin"],
            s.get("properties", {}),
        )
        for s in spec.get("stages", [])
    ]
    outputs: dict[str, DataFrame] = {}
    if source is not None:
        outputs[source[0]] = source[1]
        if source[0] not in {s.name for s in stages}:
            stages.append(Stage(source[0], "batchsource", "File"))
    top = FailureCollector()
    seen = set()
    for s in stages:
        if s.name in seen:
            top.add_failure(f"Duplicate stage name '{s.name}'.")
        seen.add(s.name)
        if s.plugin not in PLUGINS:
            top.add_failure(
                f"Stage '{s.name}': unknown plugin '{s.plugin}'.",
                f"One of {sorted(p for p in PLUGINS if '.' not in p)}.",
            )
        elif s.type and s.type != PLUGINS[s.plugin][0]:
            top.add_failure(
                f"Stage '{s.name}': plugin {s.plugin} is a "
                f"{PLUGINS[s.plugin][0]}, declared {s.type}."
            )
    order, inputs = _topo_order(
        stages, spec.get("connections", []), top
    )
    top.get_or_throw()

    by_name = {s.name: s for s in stages}
    failures = []
    for name in order:
        if name in outputs:
            continue  # the injected source
        s = by_name[name]
        ins = [outputs[i] for i in inputs[name] if outputs.get(i) is not None]
        if len(ins) != len(inputs[name]):
            continue  # upstream already failed; don't cascade noise
        kind, handler = PLUGINS[s.plugin]
        if sink_mode and kind == "batchsink":
            s = replace(s, properties=dict(s.properties, mode=sink_mode))
        collector = FailureCollector()
        try:
            outputs[name] = handler(
                spark, s, ins, collector, substitutions, phase
            )
        except ValueError as e:  # arity errors etc.
            collector.add_failure(str(e))
            outputs[name] = None
        for fail in collector.failures:
            failures.append(
                type(fail)(
                    f"Stage '{name}': {fail.message}",
                    fail.corrective_action,
                    fail.property_name,
                )
            )
    if failures:
        raise ValidationError(failures)
    return outputs


def compile_pipeline(
    spark: SparkSession, spec: dict
) -> dict[str, DataFrame]:
    """Deploy-time pass: build every stage's DataFrame lazily and
    validate configs against real input schemas, skipping macro'd
    properties. Raises :class:`ValidationError` carrying ALL stages'
    failures. Returns stage-name → DataFrame (nothing executed, no
    sink written)."""
    return _walk(spark, spec, None, "deploy")


def run_pipeline(
    spark: SparkSession,
    spec: dict,
    substitutions: dict | None = None,
) -> dict[str, DataFrame]:
    """Run-time pass: substitute macros, re-validate the literal
    configs, execute sink writes. Returns stage-name → DataFrame so
    callers can also read results directly."""
    return _walk(spark, spec, substitutions, "run")


def run_pipeline_with_source(
    spark: SparkSession,
    spec: dict,
    source_name: str,
    df: DataFrame,
    substitutions: dict | None = None,
) -> dict[str, DataFrame]:
    """Run a spec with the named source stage's output REPLACED by
    ``df`` — the embedding/testing shape (drive a pipeline from an
    in-memory frame, a fixture, or another pipeline's output without
    a round-trip through storage). Identical run-phase semantics to
    :func:`run_pipeline`; sinks write in append mode (the injected
    frame is treated as one batch of a larger feed)."""
    return _walk(
        spark, spec, substitutions, "run", source=(source_name, df),
        sink_mode="append",
    )


def run_streaming_pipeline(
    spark: SparkSession,
    spec: dict,
    checkpoint_dir: str,
    substitutions: dict | None = None,
):
    """Streaming execution of a pipeline spec — the reference's OTHER
    registration (`cdap-data-streams`, pom.xml:39-42): CDAP runs the
    SAME plugins per micro-batch, so a streaming TopN is a per-batch
    top-N, exactly as here. The single ``batchsource`` stage becomes a
    file stream (``readStream`` on its path/format/schema); every
    micro-batch replays the REST of the DAG through the batch
    handlers via ``foreachBatch`` (one code path, zero re-implemented
    operators) and appends sink output.

    Requirements: exactly one source stage; at least one ``FileSink``
    (append target); ``schema`` on the source (streams cannot infer).
    Returns the started ``StreamingQuery`` (availableNow trigger —
    call repeatedly to drain a growing directory).
    """
    stages = spec.get("stages", [])
    sources = [
        s
        for s in stages
        if PLUGINS.get(s["plugin"], ("",))[0] == "batchsource"
    ]
    sinks = [
        s
        for s in stages
        if PLUGINS.get(s["plugin"], ("",))[0] == "batchsink"
    ]
    top = FailureCollector()
    if len(sources) != 1:
        top.add_failure(
            f"Streaming pipeline needs exactly 1 source, got {len(sources)}."
        )
    if not sinks:
        top.add_failure("Streaming pipeline needs a FileSink stage.")
    if sources and "schema" not in sources[0].get("properties", {}):
        top.add_failure(
            f"Stage '{sources[0]['name']}': streaming source needs an "
            "explicit 'schema' (streams cannot infer).",
            property_name="schema",
        )
    top.get_or_throw()
    src = sources[0]
    p = src["properties"]

    # deploy-time validation of the whole DAG on an empty batch frame
    # (schemas are what validation needs; rows are not)
    empty = local_frame(spark, [], p["schema"])
    _walk(spark, spec, None, "deploy", source=(src["name"], empty))

    # @Macro lifecycle for the stream source, mirroring the batch
    # File stage: ${...} in path/format resolves from substitutions
    # before the stream starts (the schema must be literal — it was
    # already required explicit above)
    mc = FailureCollector()
    path = _str_prop(p, "path", None, mc, substitutions, "run")
    fmt = _str_prop(p, "format", "parquet", mc, substitutions, "run")
    mc.get_or_throw()

    reader = spark.readStream.schema(p["schema"]).format(fmt)
    if "maxFilesPerTrigger" in p:
        reader = reader.option(
            "maxFilesPerTrigger", p["maxFilesPerTrigger"]
        )
    stream = reader.load(path)

    def _process(batch_df: DataFrame, _bid: int) -> None:
        # bind the Structured Streaming batch id into the macro
        # namespace (reserved key ``batchId``) so maintenance sinks
        # like BinExportSink get the replay-stable id their
        # exactly-once contracts key on; a user-supplied batchId
        # substitution wins (documented escape hatch for tests)
        subs = dict(substitutions or {})
        subs.setdefault("batchId", str(int(_bid)))
        _walk(
            spark, spec, subs, "run", source=(src["name"], batch_df),
            sink_mode="append",
        )

    from topn_spark.streaming.ingest import start_batches

    return start_batches(stream, _process, checkpoint_dir)
