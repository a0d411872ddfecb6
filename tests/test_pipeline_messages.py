"""Pin every pipeline validation message byte for byte.

Each case builds a one-stage spec over a tiny in-memory input (a File
source with a macro'd path and a literal schema, so deploy validates
against an empty typed frame and reads nothing), gives one or more
properties a bad value, and asserts the exact ``str(ValidationError)``.
Run-phase cases read a zero-row parquet written once per module. The
table is the contract the property readers in ``pipelines.py`` must
keep: a refactor that rewords, reorders or drops a failure turns a
case red.
"""

from __future__ import annotations

import pytest

from topn_spark.errors import ValidationError
from topn_spark.pipelines import compile_pipeline, run_pipeline

#: every default field name a plugin reads, so a case fails only on
#: the property it sets
SCHEMA = (
    "doc_id bigint, text string, html string, lang string, url string, "
    "source string, n_tokens bigint, tokens array<string>, "
    "loss_mask array<boolean>, seq_id bigint, conv_id bigint, "
    "messages array<struct<role:string,content:string>>, "
    "prompt_id bigint, model string, score double, sample_id bigint, "
    "response string, content binary, blob_id string, "
    "asset_ids array<string>, asset_id string, pair_id bigint, "
    "chosen_tokens array<int>, rejected_tokens array<int>, "
    "chosen_mask array<boolean>, rejected_mask array<boolean>, "
    "age int, model_a string, model_b string, wins_a bigint, "
    "wins_b bigint, ties bigint"
)

SRC = {
    "name": "src",
    "type": "batchsource",
    "plugin": "File",
    "properties": {"path": "${in}", "schema": SCHEMA},
}


def _one(plugin, props, n_inputs=1):
    """src -> st, with ``st`` fed ``n_inputs`` copies of the source."""
    return {
        "stages": [
            dict(SRC),
            {"name": "st", "plugin": plugin, "properties": props},
        ],
        "connections": [{"from": "src", "to": "st"}] * n_inputs,
    }


def _two_sources(plugin, props, other_schema=SCHEMA):
    return {
        "stages": [
            dict(SRC),
            {"name": "src2", "plugin": "File",
             "properties": {"path": "${in}", "schema": other_schema}},
            {"name": "st", "plugin": plugin, "properties": props},
        ],
        "connections": [
            {"from": "src", "to": "st"},
            {"from": "src2", "to": "st"},
        ],
    }


def _alone(plugin, props):
    return {
        "stages": [{"name": "st", "plugin": plugin, "properties": props}],
        "connections": [],
    }


G = "ghost"

#: id -> spec validated at deploy (compile_pipeline)
DEPLOY = {
    # structural checks of the DAG walker
    "unknown_plugin": {
        "stages": [dict(SRC), {"name": "x", "plugin": "Nope"}],
        "connections": [],
    },
    "duplicate_name": {"stages": [dict(SRC), dict(SRC)], "connections": []},
    "declared_type": {
        "stages": [dict(SRC, type="transform")], "connections": [],
    },
    "unknown_connection": {
        "stages": [dict(SRC)],
        "connections": [{"from": "src", "to": "nowhere"}],
    },
    "cycle": {
        "stages": [
            dict(SRC),
            {"name": "a", "plugin": "Filter",
             "properties": {"condition": "true"}},
            {"name": "b", "plugin": "Filter",
             "properties": {"condition": "true"}},
        ],
        "connections": [
            {"from": "src", "to": "a"}, {"from": "a", "to": "b"},
            {"from": "b", "to": "a"},
        ],
    },
    "arity_filter": _one("Filter", {"condition": "true"}, n_inputs=2),
    # core plugins
    "topn_field_size": _one("TopN", {"field": G, "size": "0"}),
    "topn_size_word": _one("TopN", {"field": "age", "size": "x"}),
    "topn_ignore_null": _one(
        "TopN", {"field": "age", "size": "2", "ignoreNull": "maybe"}
    ),
    "file_no_path": _alone("File", {}),
    "projection_select": _one("Projection", {"select": f"doc_id, {G}"}),
    "projection_none": _one("Projection", {}),
    "filter_no_condition": _one("Filter", {}),
    "sql_no_query": _one("SQL", {}),
    "dedup_no_fields": _one("Deduplicate", {}),
    "dedup_ghost": _one("Deduplicate", {"uniqueFields": f"text,{G}"}),
    "groupby_aggregates": _one(
        "GroupByAggregate",
        {"groupByFields": "lang", "aggregates": "n:count(*), bad, m:nope(x)"},
    ),
    "joiner_one_input": _one("Joiner", {"joinKeys": "doc_id = doc_id"}),
    "joiner_keys_form": _one("Joiner", {"joinKeys": "doc_id"}, n_inputs=2),
    "joiner_keys_empty": _one(
        "Joiner", {"joinKeys": "doc_id = doc_id, = age"}, n_inputs=2
    ),
    "filesink_no_path": _one("FileSink", {}),
    "union_one_input": _one("Union", {}),
    "union_columns": _two_sources("Union", {}, "x int"),
    "window_no_order": _one("Window", {}),
    "window_ghost_order": _one("Window", {"orderField": f"{G}:desc"}),
    "window_function": _one(
        "Window", {"orderField": "age", "function": "Bogus"}
    ),
    "window_offset": _one(
        "Window", {"orderField": "age", "function": "lag", "offset": "x"}
    ),
    # corpus plugins
    "html_fields": _one("HtmlExtract", {"htmlField": G, "idField": G}),
    "quality_score": _one("QualityScore", {"textField": G}),
    "script_profile": _one("ScriptProfile", {"textField": G}),
    "normalize_form": _one(
        "NormalizeUnicode", {"textField": G, "form": "XX"}
    ),
    "gopher_rules": _one("GopherRules", {"keepOnly": "yes"}),
    "gopher_repetition": _one(
        "GopherRepetition", {"textField": G, "keepOnly": "yes"}
    ),
    "c4_props": _one(
        "C4LineFilter",
        {"keepOnly": "yes", "minWords": "-1", "minSentences": "x"},
    ),
    "perplexity_props": _one(
        "PerplexityFilter",
        {"textField": G, "idField": G, "smoothing": "zz", "k": "x",
         "maxPpl": "y"},
    ),
    "routed_no_routes": _one("RoutedQuality", {"langField": G}),
    "routed_bad_json": _one(
        "RoutedQuality",
        {"routes": "{bad", "lmPaths": "{bad", "keepOnly": "x"},
    ),
    "routed_shape": _one(
        "RoutedQuality", {"routes": "[1]", "lmPaths": "[1]"}
    ),
    "routed_unknown_param": _one(
        "RoutedQuality", {"routes": '{"en": {"nope": 1}}'}
    ),
    "routed_unmodeled": _one(
        "RoutedQuality", {"routes": '{"en": {"max_ppl": 100}}'}
    ),
    "dsir_props": _one("DsirWeights", {"idField": G, "nBuckets": "1"}),
    "langid_props": _one(
        "LangId", {"textField": G, "keepScores": "x"}
    ),
    "langid_scores_macro": _one(
        "LangId", {"modelPath": "${m}", "keepScores": "true"}
    ),
    "warc_source_props": _alone("Warc", {"strict": "x"}),
    "warc_parse_props": _one(
        "WarcParse", {"contentField": G, "strict": "x"}
    ),
    "leakage_props": _one(
        "LeakageSafeSplit",
        {"family": "sha", "numHashes": "0", "bands": "x",
         "shingleSize": "-3", "threshold": "x"},
    ),
    "leakage_bands": _one(
        "LeakageSafeSplit", {"numHashes": "10", "bands": "3"}
    ),
    "neardup_props": _one(
        "NearDupCollapse",
        {"scoreField": G, "family": "sha", "threshold": "x"},
    ),
    "neardup_bands": _one(
        "NearDupCollapse",
        {"family": "md5", "numHashes": "9", "bands": "2"},
    ),
    "budget_missing": _one("TokenBudgetMixture", {"groupField": G}),
    "budget_props": _one(
        "TokenBudgetMixture", {"weights": "web", "totalTokens": "-1"}
    ),
    "epoch_mixture_props": _one(
        "EpochMixture",
        {"weights": "a:x", "totalTokens": "10", "maxEpochs": "0",
         "expand": "x"},
    ),
    "epoch_mixture_missing": _one("EpochMixture", {"tokenField": G}),
    "decontam_props": _one(
        "Decontaminate",
        {"n": "0", "minHits": "x", "action": "x", "countField": "text",
         "flagField": "lang"},
    ),
    "tokenize_both": _one(
        "Tokenize", {"mergesPath": "a", "piecesPath": "b"}
    ),
    "tokenize_mode": _one("Tokenize", {"textField": G, "mode": "x"}),
    "tokenize_bpe_mode": _one(
        "Tokenize", {"mergesPath": "${m}", "bpeMode": "x"}
    ),
    "tokenize_bpe_keep": _one(
        "Tokenize",
        {"mergesPath": "${m}", "keepTokens": "-2", "idField": G},
    ),
    "tokenize_lm_props": _one(
        "Tokenize",
        {"piecesPath": "${p}", "lmMode": "x", "keepTokens": "z",
         "idField": G},
    ),
    "classifier_props": _one(
        "QualityClassifier", {"textField": G, "minProb": "x"}
    ),
    "dedup_against_props": _one(
        "DedupAgainst", {"uniqueFields": f"text, {G}"}
    ),
    "pii_props": _one("PiiRedact", {"replaceText": "x"}),
    "url_props": _one(
        "UrlFilter", {"urlField": G, "action": "x", "matchOn": "x"}
    ),
    "url_both_lists": _one(
        "UrlFilter", {"domains": "a.com", "domainsPath": "/x"}
    ),
    "pack_props": _one(
        "PackSequences",
        {"seqLen": "0", "orderField": G, "byFields": f"lang,{G}, x"},
    ),
    "shard_no_path": _one("ShardSink", {}),
    "shard_no_n": _one("ShardSink", {"path": "/o"}),
    "shard_props": _one(
        "ShardSink", {"path": "/o", "nShards": "x", "tokenField": G}
    ),
    "winrate_props": _one(
        "WinRate", {"promptField": G, "scoreField": G}
    ),
    "elo_props": _one("EloFit", {"smoothing": "-1", "maxIter": "0"}),
    "encode_props": _one("EncodeIds", {"tokensField": G}),
    "binshard_no_path": _one("BinShardSink", {}),
    "binshard_no_n": _one("BinShardSink", {"path": "/o"}),
    "binshard_props": _one(
        "BinShardSink",
        {"path": "/o", "nShards": "2", "maskField": G, "dtype": "x",
         "incremental": "x"},
    ),
    "binshard_range": _one(
        "BinShardSink",
        {"path": "/o", "seqsPerShard": "0", "assetsField": G},
    ),
    "validate_assets_arity": _one("ValidateAssets", {}),
    "validate_assets_props": _two_sources(
        "ValidateAssets", {"refsField": G, "idField": G}, "x int"
    ),
    "pack_mm_no_len": _one("PackMultimodal", {}),
    "pack_mm_props": _one(
        "PackMultimodal", {"seqLen": "0", "assetsField": G}
    ),
    "pack_mm_sep_supervised": _one(
        "PackMultimodal", {"seqLen": "4", "sepSupervised": "maybe"}
    ),
    "bin_export_missing": _one("BinExportSink", {}),
    "bin_export_props": _one(
        "BinExportSink",
        {"corpusPath": "/c", "path": "/o", "nShards": "x",
         "batchId": "-1", "epochs": "a,b", "dtype": "x",
         "tokensField": G},
    ),
    "pref_no_path": _one("PreferenceBinShardSink", {}),
    "pref_no_n": _one("PreferenceBinShardSink", {"path": "/o"}),
    "pref_masks": _one(
        "PreferenceBinShardSink",
        {"path": "/o", "nShards": "2", "chosenMaskField": "none"},
    ),
    "pref_props": _one(
        "PreferenceBinShardSink",
        {"path": "/o", "nShards": "0", "pairIdField": G,
         "rejectedMaskField": G},
    ),
    "tag_unknown": _one("TagAttributes", {"taggers": f"{G}, x"}),
    "tag_empty": _one("TagAttributes", {"taggers": " , ", "idField": G}),
    "mixer_missing": _one("Mixer", {"idField": G}),
    "mixer_bad_json": _one(
        "Mixer", {"config": "{bad", "attributesPath": "/a"}
    ),
    "mixer_not_object": _one(
        "Mixer", {"config": "[1]", "attributesPath": "/a"}
    ),
    "conversation_qc_props": _one(
        "ConversationQc", {"allowedRoles": " , ", "keepOnly": "x"}
    ),
    "render_chat_props": _one(
        "RenderChat", {"messagesField": G, "template": "llama"}
    ),
    "loss_mask_props": _one("LossMask", {"template": "llama"}),
    "loss_spans_props": _one("LossSpans", {"template": "llama"}),
    "fim_props": _one(
        "FimTransform", {"rate": "2", "spmRate": "x", "idField": G}
    ),
    "windows_stride": _one(
        "TokenWindows", {"window": "4", "stride": "8"}
    ),
    "windows_props": _one(
        "TokenWindows", {"window": "0", "stride": "x"}
    ),
    "pack_masked_props": _one(
        "PackMasked",
        {"maskField": G, "byFields": G, "sepSupervised": "Maybe",
         "seqLen": "x"},
    ),
    "bpe_mask_props": _one("BpeLossMask", {"mode": "x", "idField": G}),
    "redact_conversation": _one(
        "RedactConversation", {"messagesField": G}
    ),
    "preference_pairs_props": _one(
        "PreferencePairs", {"scoreField": G, "minGap": "-1"}
    ),
    "kto_props": _one("KtoLabels", {"promptField": G, "threshold": "x"}),
    "epoch_shuffle_missing": _one("EpochShuffle", {"idField": G}),
    "epoch_shuffle_props": _one(
        "EpochShuffle", {"epoch": "-1", "numShards": "x"}
    ),
    "truncate_missing": _one("TruncateConversation", {}),
    "truncate_props": _one(
        "TruncateConversation", {"messagesField": G, "maxChars": "-1"}
    ),
    "json_qc": _one("JsonOutputQc", {"field": G}),
    "canonical_url": _one("CanonicalUrl", {"urlField": G}),
    # failure order: a bad earlier property, then a ghost column
    "budget_order": _one(
        "TokenBudgetMixture", {"totalTokens": "-1", "groupField": G}
    ),
    "epoch_mixture_order": _one(
        "EpochMixture", {"maxEpochs": "0", "groupField": G}
    ),
    "decontam_order": _one("Decontaminate", {"n": "0", "textField": G}),
    "windows_order": _one(
        "TokenWindows", {"window": "0", "tokensField": G}
    ),
}

#: id -> spec validated at run (run_pipeline, no substitutions for the
#: property macros): unresolved macros and the run-only sink checks
RUN = {
    "windows_macro": _one("TokenWindows", {"window": "${w}"}),
    "fim_macro": _one("FimTransform", {"rate": "${r}"}),
    "kto_macro": _one("KtoLabels", {"threshold": "${t}"}),
    "epoch_shuffle_macro": _one(
        "EpochShuffle", {"epoch": "${e}", "numShards": "2"}
    ),
    "truncate_macro": _one(
        "TruncateConversation", {"maxChars": "${m}"}
    ),
    "preference_pairs_macro": _one("PreferencePairs", {"minGap": "${g}"}),
    "elo_macro": _one("EloFit", {"smoothing": "${s}"}),
    "filesink_macro": _one("FileSink", {"path": "${out}"}),
    "shard_macro": _one("ShardSink", {"path": "${o}", "nShards": "2"}),
    # failure order: an unresolved earlier macro, then a ghost column
    "perplexity_order": _one(
        "PerplexityFilter", {"modelPath": "${m}", "textField": G}
    ),
    "routed_order": _one(
        "RoutedQuality", {"routes": "${r}", "langField": G}
    ),
    "dsir_order": _one("DsirWeights", {"targetPath": "${t}", "textField": G}),
    "langid_order": _one("LangId", {"modelPath": "${m}", "textField": G}),
    "tokenize_order": _one(
        "Tokenize", {"mergesPath": "${m}", "textField": G}
    ),
    "classifier_order": _one(
        "QualityClassifier", {"modelPath": "${m}", "textField": G}
    ),
    "tag_order": _one("TagAttributes", {"taggers": "${t}", "idField": G}),
    "mixer_order": _one(
        "Mixer", {"config": "${c}", "attributesPath": "/a", "idField": G}
    ),
}

EXPECTED: dict[str, str] = {
    'arity_filter': "Stage 'st': too many values to unpack (expected 1)",
    'bin_export_missing': (
        "Stage 'st': BinExportSink needs a 'corpusPath'. (property: "
        "corpusPath); Stage 'st': BinExportSink needs a 'path'. "
        "(property: path); Stage 'st': BinExportSink needs 'nShards' "
        "(or 'seqsPerShard' for range sharding). (property: nShards)"
    ),
    'bin_export_props': (
        "Stage 'st': Invalid nShards 'x'. An integer. (property: "
        "nShards); Stage 'st': batchId must be >= 0, got -1. "
        "(property: batchId); Stage 'st': Invalid epochs 'a,b'. "
        "Comma-separated integers. (property: epochs); Stage 'st': "
        "Column 'ghost' not in input schema. (property: tokensField); "
        "Stage 'st': Invalid dtype 'x'. 'auto', 'uint16' or 'uint32'. "
        '(property: dtype)'
    ),
    'binshard_no_n': (
        "Stage 'st': BinShardSink needs 'nShards' (or 'seqsPerShard' "
        'for range sharding). (property: nShards)'
    ),
    'binshard_no_path': (
        "Stage 'st': BinShardSink needs a 'path'. (property: path)"
    ),
    'binshard_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "maskField); Stage 'st': Invalid dtype 'x'. 'auto', 'uint16' "
        "or 'uint32'. (property: dtype); Stage 'st': Invalid "
        "incremental 'x'. 'true' or 'false'. (property: incremental)"
    ),
    'binshard_range': (
        "Stage 'st': seqsPerShard must be >= 1, got 0. (property: "
        "seqsPerShard); Stage 'st': Column 'ghost' not in input "
        'schema. (property: assetsField)'
    ),
    'bpe_mask_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField); Stage 'st': Required property 'mergesPath' is "
        'missing. Point it at a save_bpe_merges artifact. (property: '
        "mergesPath); Stage 'st': Invalid mode 'x'. 'byte' or 'char'. "
        '(property: mode)'
    ),
    'budget_missing': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "groupField); Stage 'st': TokenBudgetMixture needs "
        "'totalTokens'. (property: totalTokens); Stage 'st': "
        "TokenBudgetMixture needs 'weights'. Format: "
        "'group:weight,group:weight'. (property: weights)"
    ),
    'budget_order': (
        "Stage 'st': totalTokens must be >= 0, got -1. (property: "
        "totalTokens); Stage 'st': Column 'ghost' not in input "
        "schema. (property: groupField); Stage 'st': "
        "TokenBudgetMixture needs 'weights'. Format: "
        "'group:weight,group:weight'. (property: weights)"
    ),
    'budget_props': (
        "Stage 'st': totalTokens must be >= 0, got -1. (property: "
        "totalTokens); Stage 'st': Unparseable weights 'web'. Format: "
        "'group:weight,group:weight'. (property: weights)"
    ),
    'c4_props': (
        "Stage 'st': Invalid keepOnly 'yes'. One of true, false. "
        "(property: keepOnly); Stage 'st': Invalid minWords '-1'. A "
        "non-negative integer. (property: minWords); Stage 'st': "
        "Invalid minSentences 'x'. A non-negative integer. (property: "
        'minSentences)'
    ),
    'canonical_url': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'urlField)'
    ),
    'classifier_order': (
        "Stage 'st': Macro '${m}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: "
        "modelPath); Stage 'st': Column 'ghost' not in input schema. "
        "(property: textField)"
    ),
    'classifier_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "textField); Stage 'st': Required property 'modelPath' is "
        'missing. Point it at a save_logreg artifact. (property: '
        "modelPath); Stage 'st': Invalid minProb 'x'. A number in [0, "
        '1]. (property: minProb)'
    ),
    'conversation_qc_props': (
        "Stage 'st': allowedRoles must name at least one role. "
        "(property: allowedRoles); Stage 'st': Invalid keepOnly 'x'. "
        "'true' or 'false'. (property: keepOnly)"
    ),
    'cycle': "Pipeline DAG has a cycle involving ['a', 'b'].",
    'declared_type': (
        "Stage 'src': plugin File is a batchsource, declared "
        'transform.'
    ),
    'decontam_order': (
        "Stage 'st': n must be >= 1, got 0. (property: n); Stage "
        "'st': Column 'ghost' not in input schema. (property: "
        "textField); Stage 'st': Required property 'evalPath' is "
        "missing. Point it at the eval benchmark parquet. (property: "
        "evalPath)"
    ),
    'decontam_props': (
        "Stage 'st': n must be >= 1, got 0. (property: n); Stage "
        "'st': Invalid minHits 'x'. An integer. (property: minHits); "
        "Stage 'st': Required property 'evalPath' is missing. Point "
        'it at the eval benchmark parquet. (property: evalPath); '
        "Stage 'st': Invalid action 'x'. 'flag' or 'drop'. (property: "
        "action); Stage 'st': Output field 'text' already exists in "
        "the input. Set 'countField' so successive gates compose. "
        "(property: countField); Stage 'st': Output field 'lang' "
        "already exists in the input. Set 'flagField' so successive "
        'gates compose. (property: flagField)'
    ),
    'dedup_against_props': (
        "Stage 'st': DedupAgainst needs 'basePath'. (property: "
        "basePath); Stage 'st': Columns ['ghost'] not in input "
        'schema. (property: uniqueFields)'
    ),
    'dedup_ghost': (
        "Stage 'st': Columns ['ghost'] not in input schema. "
        '(property: uniqueFields)'
    ),
    'dedup_no_fields': (
        "Stage 'st': Deduplicate needs 'uniqueFields'. (property: "
        'uniqueFields)'
    ),
    'dsir_order': (
        "Stage 'st': Macro '${t}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: "
        "targetPath); Stage 'st': Column 'ghost' not in input schema. "
        "(property: textField)"
    ),
    'dsir_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField); Stage 'st': Required property 'targetPath' is "
        'missing. Point it at a parquet corpus with the text field. '
        "(property: targetPath); Stage 'st': Invalid nBuckets '1'. An "
        'integer >= 2. (property: nBuckets)'
    ),
    'duplicate_name': (
        "Duplicate stage name 'src'.; Pipeline DAG has a cycle "
        'involving [].'
    ),
    'elo_macro': (
        "Stage 'st': Macro '${s}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: '
        'smoothing)'
    ),
    'elo_props': (
        "Stage 'st': maxIter must be >= 1, got 0. (property: "
        "maxIter); Stage 'st': Invalid smoothing '-1'. A non-negative "
        'number. (property: smoothing)'
    ),
    'encode_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "tokensField); Stage 'st': Required property 'vocabPath' is "
        'missing. Point it at a save_vocab artifact. (property: '
        'vocabPath)'
    ),
    'epoch_mixture_missing': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "tokenField); Stage 'st': EpochMixture needs 'totalTokens'. "
        "(property: totalTokens); Stage 'st': EpochMixture needs "
        "'weights'. Format: 'group:weight,group:weight'. (property: "
        'weights)'
    ),
    'epoch_mixture_order': (
        "Stage 'st': maxEpochs must be >= 1, got 0. (property: "
        "maxEpochs); Stage 'st': Column 'ghost' not in input schema. "
        "(property: groupField); Stage 'st': EpochMixture needs "
        "'totalTokens'. (property: totalTokens); Stage 'st': "
        "EpochMixture needs 'weights'. Format: "
        "'group:weight,group:weight'. (property: weights)"
    ),
    'epoch_mixture_props': (
        "Stage 'st': maxEpochs must be >= 1, got 0. (property: "
        "maxEpochs); Stage 'st': Unparseable weights 'a:x'. Format: "
        "'group:weight,group:weight'. (property: weights); Stage "
        "'st': Invalid expand 'x'. 'true' or 'false'. (property: "
        'expand)'
    ),
    'epoch_shuffle_macro': (
        "Stage 'st': Macro '${e}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: epoch)'
    ),
    'epoch_shuffle_missing': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField); Stage 'st': Required property 'epoch' is missing. "
        "Provide an integer. (property: epoch); Stage 'st': Required "
        "property 'numShards' is missing. Provide an integer. "
        '(property: numShards)'
    ),
    'epoch_shuffle_props': (
        "Stage 'st': Invalid epoch '-1'. An integer >= 0. (property: "
        "epoch); Stage 'st': Invalid numShards 'x'. An integer >= 1. "
        '(property: numShards)'
    ),
    'file_no_path': "Stage 'st': Source needs a 'path'. (property: path)",
    'filesink_macro': (
        "Stage 'st': Macro '${out}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: path)'
    ),
    'filesink_no_path': "Stage 'st': Sink needs a 'path'. (property: path)",
    'filter_no_condition': (
        "Stage 'st': Filter needs a 'condition'. (property: "
        'condition)'
    ),
    'fim_macro': (
        "Stage 'st': Macro '${r}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: rate)'
    ),
    'fim_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField); Stage 'st': Invalid rate '2'. A fraction in [0, "
        "1]. (property: rate); Stage 'st': Invalid spmRate 'x'. A "
        'fraction in [0, 1]. (property: spmRate)'
    ),
    'gopher_repetition': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "textField); Stage 'st': Invalid keepOnly 'yes'. One of true, "
        'false. (property: keepOnly)'
    ),
    'gopher_rules': (
        "Stage 'st': Invalid keepOnly 'yes'. One of true, false. "
        '(property: keepOnly)'
    ),
    'groupby_aggregates': (
        "Stage 'st': Unparseable aggregate 'bad'. Use alias:func(col) "
        "with func in ['avg', 'count', 'countdistinct', 'max', 'min', "
        "'sum']. (property: aggregates); Stage 'st': Unparseable "
        "aggregate 'm:nope(x)'. Use alias:func(col) with func in "
        "['avg', 'count', 'countdistinct', 'max', 'min', 'sum']. "
        '(property: aggregates)'
    ),
    'html_fields': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'htmlField)'
    ),
    'joiner_keys_empty': (
        "Stage 'st': Empty column name in joinKeys pair '= age'. "
        '(property: joinKeys)'
    ),
    'joiner_keys_form': (
        "Stage 'st': joinKeys must be 'leftCol = rightCol[, leftCol2 "
        "= rightCol2 ...]'. (property: joinKeys)"
    ),
    'joiner_one_input': "Stage 'st': Joiner needs exactly 2 inputs, got 1.",
    'json_qc': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'field)'
    ),
    'kto_macro': (
        "Stage 'st': Macro '${t}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: '
        'threshold)'
    ),
    'kto_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "promptField); Stage 'st': Invalid threshold 'x'. A number, "
        'or omit for the per-prompt mean. (property: threshold)'
    ),
    'langid_order': (
        "Stage 'st': Macro '${m}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: "
        "modelPath); Stage 'st': Column 'ghost' not in input schema. "
        "(property: textField)"
    ),
    'langid_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "textField); Stage 'st': Required property 'modelPath' is "
        'missing. Point it at a save_langid artifact. (property: '
        "modelPath); Stage 'st': Invalid keepScores 'x'. One of true, "
        'false. (property: keepScores)'
    ),
    'langid_scores_macro': (
        "Stage 'st': keepScores=true needs a literal modelPath. The "
        "score columns depend on the model's language list, which a "
        "macro'd path cannot supply at deploy time. (property: "
        'keepScores)'
    ),
    'leakage_bands': (
        "Stage 'st': numHashes (10) must divide into bands (3). "
        '(property: bands)'
    ),
    'leakage_props': (
        "Stage 'st': Invalid family 'sha'. One of xxhash, md5. "
        "(property: family); Stage 'st': numHashes must be >= 1, got "
        "0. (property: numHashes); Stage 'st': Invalid bands 'x'. An "
        "integer. (property: bands); Stage 'st': shingleSize must be "
        ">= 1, got -3. (property: shingleSize); Stage 'st': Invalid "
        "threshold 'x'. A number in [0, 1]. (property: threshold)"
    ),
    'loss_mask_props': (
        "Stage 'st': Unknown template 'llama'. One of ['chatml', "
        "'plain']. (property: template)"
    ),
    'loss_spans_props': (
        "Stage 'st': Unknown template 'llama'. One of: chatml, plain. "
        '(property: template)'
    ),
    'mixer_bad_json': (
        "Stage 'st': config is not valid JSON: '{bad'. The mixer rule "
        'object. (property: config)'
    ),
    'mixer_missing': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField); Stage 'st': Required property 'config' is missing. "
        "(property: config); Stage 'st': Required property "
        "'attributesPath' is missing. (property: attributesPath)"
    ),
    'mixer_not_object': (
        "Stage 'st': config must be a JSON object. (property: config)"
    ),
    'mixer_order': (
        "Stage 'st': Macro '${c}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: config); "
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField)"
    ),
    'neardup_bands': (
        "Stage 'st': numHashes (9) must divide into bands (2). "
        '(property: bands)'
    ),
    'neardup_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "scoreField); Stage 'st': Invalid family 'sha'. One of "
        "xxhash, md5. (property: family); Stage 'st': Invalid "
        "threshold 'x'. A number in [0, 1]. (property: threshold)"
    ),
    'normalize_form': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "textField); Stage 'st': Unknown normalization form 'XX'. One "
        'of NFC, NFD, NFKC, NFKD. (property: form)'
    ),
    'pack_masked_props': (
        "Stage 'st': Invalid seqLen 'x'. An integer. (property: "
        "seqLen); Stage 'st': Column 'ghost' not in input schema. "
        "(property: maskField); Stage 'st': Column 'ghost' not in "
        "input schema. (property: byFields); Stage 'st': Invalid "
        "sepSupervised 'Maybe'. 'true' or 'false'. (property: "
        'sepSupervised)'
    ),
    'pack_mm_no_len': (
        "Stage 'st': PackMultimodal needs 'seqLen'. (property: "
        'seqLen)'
    ),
    'pack_mm_props': (
        "Stage 'st': seqLen must be >= 1, got 0. (property: seqLen); "
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'assetsField)'
    ),
    'pack_mm_sep_supervised': (
        "Stage 'st': Invalid sepSupervised 'maybe'. 'true' or 'false'. "
        "(property: sepSupervised)"
    ),
    'pack_props': (
        "Stage 'st': seqLen must be >= 1, got 0. (property: seqLen); "
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "orderField); Stage 'st': Column 'ghost' not in input schema. "
        "(property: byFields); Stage 'st': Column 'x' not in input "
        'schema. (property: byFields)'
    ),
    'perplexity_order': (
        "Stage 'st': Macro '${m}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: "
        "modelPath); Stage 'st': Column 'ghost' not in input schema. "
        "(property: textField)"
    ),
    'perplexity_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "textField); Stage 'st': Column 'ghost' not in input schema. "
        "(property: idField); Stage 'st': Required property "
        "'modelPath' is missing. Point it at a save_bigram_lm "
        "artifact. (property: modelPath); Stage 'st': Unknown "
        "smoothing 'zz'. One of addk, wb. (property: smoothing); "
        "Stage 'st': Invalid k 'x'. A float. (property: k); Stage "
        "'st': Invalid maxPpl 'y'. A float. (property: maxPpl)"
    ),
    'pii_props': (
        "Stage 'st': Invalid replaceText 'x'. One of true, false. "
        '(property: replaceText)'
    ),
    'pref_masks': (
        "Stage 'st': chosenMaskField/rejectedMaskField must both be "
        "set or both be 'none'. (property: chosenMaskField)"
    ),
    'pref_no_n': (
        "Stage 'st': PreferenceBinShardSink needs 'nShards'. "
        '(property: nShards)'
    ),
    'pref_no_path': (
        "Stage 'st': PreferenceBinShardSink needs a 'path'. "
        '(property: path)'
    ),
    'pref_props': (
        "Stage 'st': nShards must be >= 1, got 0. (property: "
        "nShards); Stage 'st': Column 'ghost' not in input schema. "
        "(property: pairIdField); Stage 'st': Column 'ghost' not in "
        'input schema. (property: rejectedMaskField)'
    ),
    'preference_pairs_macro': (
        "Stage 'st': Macro '${g}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: minGap)'
    ),
    'preference_pairs_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "scoreField); Stage 'st': Invalid minGap '-1'. A number >= 0. "
        '(property: minGap)'
    ),
    'projection_none': (
        "Stage 'st': Projection needs 'select' or 'drop'. (property: "
        'select)'
    ),
    'projection_select': (
        "Stage 'st': Columns ['ghost'] not in input schema. "
        '(property: select)'
    ),
    'quality_score': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'textField)'
    ),
    'redact_conversation': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'messagesField)'
    ),
    'render_chat_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "messagesField); Stage 'st': Unknown template 'llama'. One of "
        "['chatml', 'plain']. (property: template)"
    ),
    'routed_bad_json': (
        "Stage 'st': routes is not valid JSON: '{bad'. A JSON object: "
        "lang -> parameter overrides. (property: routes); Stage 'st': "
        "lmPaths is not valid JSON: '{bad'. A JSON object: lang -> "
        "artifact path. (property: lmPaths); Stage 'st': Invalid "
        "keepOnly 'x'. 'true' or 'false'. (property: keepOnly)"
    ),
    'routed_no_routes': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "langField); Stage 'st': Required property 'routes' is "
        'missing. A JSON object: lang -> parameter overrides. '
        '(property: routes)'
    ),
    'routed_order': (
        "Stage 'st': Macro '${r}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: routes); "
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "langField)"
    ),
    'routed_shape': (
        "Stage 'st': routes must map language -> override object. "
        'e.g. {"en": {}, "de": {"min_stop_hits": 3}} (property: '
        "routes); Stage 'st': lmPaths must map language -> artifact "
        'path. (property: lmPaths)'
    ),
    'routed_unknown_param': (
        "Stage 'st': Unknown route parameter(s) ['nope']. Valid: "
        "['max_ellipsis_word_ratio', 'max_frac_bullet_lines', "
        "'max_frac_ellipsis_lines', 'max_hash_word_ratio', "
        "'max_mean_word_len', 'max_ppl', 'max_words', "
        "'min_frac_alpha_words', 'min_mean_word_len', "
        "'min_sentences', 'min_stop_hits', 'min_words', 'stopwords']. "
        '(property: routes)'
    ),
    'routed_unmodeled': (
        "Stage 'st': Route(s) ['en'] set max_ppl but lmPaths has no "
        'model for them. Add the language to lmPaths. (property: '
        'lmPaths)'
    ),
    'script_profile': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'textField)'
    ),
    'shard_macro': (
        "Stage 'st': Macro '${o}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: path)'
    ),
    'shard_no_n': "Stage 'st': ShardSink needs 'nShards'. (property: nShards)",
    'shard_no_path': "Stage 'st': ShardSink needs a 'path'. (property: path)",
    'shard_props': (
        "Stage 'st': Invalid nShards 'x'. An integer. (property: "
        "nShards); Stage 'st': Column 'ghost' not in input schema. "
        '(property: tokenField)'
    ),
    'sql_no_query': "Stage 'st': SQL stage needs a 'query'. (property: query)",
    'tag_empty': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField); Stage 'st': taggers must name at least one tagger. "
        '(property: taggers)'
    ),
    'tag_order': (
        "Stage 'st': Macro '${t}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: taggers); "
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "idField)"
    ),
    'tag_unknown': (
        "Stage 'st': Unknown tagger(s) ['ghost', 'x']. Registered: "
        "['char_length', 'line_count', 'word_count', 'mean_word_len', "
        "'alpha_word_frac', 'digit_char_frac', 'hash_word_ratio', "
        "'stop_hits', 'bullet_line_frac', 'ellipsis_line_frac']. "
        '(property: taggers)'
    ),
    'tokenize_both': (
        "Stage 'st': mergesPath and piecesPath are mutually "
        'exclusive. A stage applies ONE trained tokenizer. (property: '
        'piecesPath)'
    ),
    'tokenize_bpe_keep': (
        "Stage 'st': keepTokens must be >= -1, got -2. (property: "
        "keepTokens); Stage 'st': Column 'ghost' not in input schema. "
        '(property: idField)'
    ),
    'tokenize_bpe_mode': (
        "Stage 'st': Invalid bpeMode 'x'. One of ascii, unicode, "
        'byte. (property: bpeMode)'
    ),
    'tokenize_lm_props': (
        "Stage 'st': Invalid keepTokens 'z'. An integer. (property: "
        "keepTokens); Stage 'st': Invalid lmMode 'x'. One of ascii, "
        "unicode. (property: lmMode); Stage 'st': Column 'ghost' not "
        'in input schema. (property: idField)'
    ),
    'tokenize_mode': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "textField); Stage 'st': Invalid mode 'x'. One of ascii, "
        'unicode, script (or set mergesPath for trained BPE). '
        '(property: mode)'
    ),
    'tokenize_order': (
        "Stage 'st': Macro '${m}' has no provided value. Provide a "
        "substitution for the macro at run time. (property: "
        "mergesPath); Stage 'st': Column 'ghost' not in input schema. "
        "(property: textField)"
    ),
    'topn_field_size': (
        "Stage 'st': Field 'ghost' does not exist in the input "
        'schema. Set the top field to an existing numeric field. '
        "(property: field); Stage 'st': Invalid size 0. Size must be "
        'at least 1. (property: size)'
    ),
    'topn_ignore_null': (
        "Stage 'st': Invalid ignoreNull 'maybe'. ignoreNull must be "
        "'true' or 'false'. (property: ignoreNull)"
    ),
    'topn_size_word': (
        "Stage 'st': Invalid size 'x'. Size must be a whole number. "
        '(property: size)'
    ),
    'truncate_macro': (
        "Stage 'st': Macro '${m}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: maxChars)'
    ),
    'truncate_missing': (
        "Stage 'st': Required property 'maxChars' is missing. Provide "
        'an integer >= 0. (property: maxChars)'
    ),
    'truncate_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "messagesField); Stage 'st': Invalid maxChars '-1'. An "
        'integer >= 0. (property: maxChars)'
    ),
    'union_columns': (
        "Stage 'st': Union inputs must share a column set; got "
        "['age', 'asset_id', 'asset_ids', 'blob_id', 'chosen_mask', "
        "'chosen_tokens', 'content', 'conv_id', 'doc_id', 'html', "
        "'lang', 'loss_mask', 'messages', 'model', 'model_a', "
        "'model_b', 'n_tokens', 'pair_id', 'prompt_id', "
        "'rejected_mask', 'rejected_tokens', 'response', 'sample_id', "
        "'score', 'seq_id', 'source', 'text', 'ties', 'tokens', "
        "'url', 'wins_a', 'wins_b'] vs ['x']."
    ),
    'union_one_input': "Stage 'st': Union needs >= 2 inputs, got 1.",
    'unknown_connection': (
        'Connection src -> nowhere references an unknown stage.'
    ),
    'unknown_plugin': (
        "Stage 'x': unknown plugin 'Nope'. One of ['BinExportSink', "
        "'BinShardSink', 'BpeLossMask', 'C4LineFilter', "
        "'CanonicalUrl', 'ConversationQc', 'Decontaminate', "
        "'DedupAgainst', 'Deduplicate', 'DsirWeights', 'EloFit', "
        "'EncodeIds', 'EpochMixture', 'EpochShuffle', 'File', "
        "'FileSink', 'Filter', 'FimTransform', 'GopherRepetition', "
        "'GopherRules', 'GroupByAggregate', 'HtmlExtract', 'Joiner', "
        "'JsonOutputQc', 'KtoLabels', 'LangId', 'LeakageSafeSplit', "
        "'LossMask', 'LossSpans', 'Mixer', 'NearDupCollapse', "
        "'NormalizeUnicode', 'PackMasked', 'PackMultimodal', "
        "'PackSequences', 'PerplexityFilter', 'PiiRedact', "
        "'PreferenceBinShardSink', 'PreferencePairs', 'Projection', "
        "'QualityClassifier', 'QualityScore', 'RedactConversation', "
        "'RenderChat', 'RoutedQuality', 'SQL', 'ScriptProfile', "
        "'ShardSink', 'SyntheticDocs', 'TagAttributes', "
        "'TokenBudgetMixture', 'TokenWindows', 'Tokenize', 'TopN', "
        "'TruncateConversation', 'Union', 'UrlFilter', "
        "'ValidateAssets', 'Warc', 'WarcParse', 'WinRate', 'Window']."
    ),
    'url_both_lists': (
        "Stage 'st': Exactly one of 'domains' or 'domainsPath' is "
        'required. A comma list for small literal lists, a '
        'one-per-line text file for blocklist artifacts. (property: '
        'domains)'
    ),
    'url_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "urlField); Stage 'st': Invalid action 'x'. One of block, "
        "allow. (property: action); Stage 'st': Invalid matchOn 'x'. "
        'One of registered_domain, host. (property: matchOn); Stage '
        "'st': Exactly one of 'domains' or 'domainsPath' is required. "
        'A comma list for small literal lists, a one-per-line text '
        'file for blocklist artifacts. (property: domains)'
    ),
    'validate_assets_arity': (
        "Stage 'st': ValidateAssets needs exactly 2 inputs (data, "
        'asset registry); got 1'
    ),
    'validate_assets_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "refsField); Stage 'st': Column 'asset_id' not in input "
        "schema. (property: assetKey); Stage 'st': Column 'ghost' not "
        'in input schema. (property: idField)'
    ),
    'warc_parse_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "contentField); Stage 'st': Invalid strict 'x'. One of true, "
        'false. (property: strict)'
    ),
    'warc_source_props': (
        "Stage 'st': Warc source needs a 'path'. (property: path); "
        "Stage 'st': Invalid strict 'x'. One of true, false. "
        '(property: strict)'
    ),
    'window_function': (
        "Stage 'st': Unknown window function 'bogus'. One of "
        "['dense_rank', 'lag', 'lead', 'rank', 'row_number']. "
        '(property: function)'
    ),
    'window_ghost_order': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        'orderField)'
    ),
    'window_no_order': (
        "Stage 'st': Window needs an 'orderField'. (property: "
        'orderField)'
    ),
    'window_offset': "Stage 'st': invalid literal for int() with base 10: 'x'",
    'windows_macro': (
        "Stage 'st': Macro '${w}' has no provided value. Provide a "
        'substitution for the macro at run time. (property: window)'
    ),
    'windows_order': (
        "Stage 'st': window must be >= 1, got 0. (property: window); "
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "tokensField)"
    ),
    'windows_props': (
        "Stage 'st': window must be >= 1, got 0. (property: window); "
        "Stage 'st': Invalid stride 'x'. An integer. (property: "
        'stride)'
    ),
    'windows_stride': (
        "Stage 'st': stride (8) exceeds window (4). Use stride <= "
        'window. (property: stride)'
    ),
    'winrate_props': (
        "Stage 'st': Column 'ghost' not in input schema. (property: "
        "promptField); Stage 'st': Column 'ghost' not in input "
        'schema. (property: scoreField)'
    ),
}


@pytest.fixture(scope="module")
def empty_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pin") / "in")
    spark.createDataFrame([], SCHEMA).write.parquet(path)
    return path


@pytest.mark.parametrize("case", sorted(DEPLOY))
def test_deploy_message_pinned(spark, case):
    with pytest.raises(ValidationError) as ei:
        compile_pipeline(spark, DEPLOY[case])
    assert str(ei.value) == EXPECTED[case]


@pytest.mark.parametrize("case", sorted(RUN))
def test_run_message_pinned(spark, empty_input, case):
    with pytest.raises(ValidationError) as ei:
        run_pipeline(spark, RUN[case], {"in": empty_input})
    assert str(ei.value) == EXPECTED[case]
