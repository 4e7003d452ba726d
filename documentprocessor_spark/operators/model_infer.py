"""Model-inference operators (SURVEY.md §2.4): batched token classification
(M1), BIO entity merge (M2), entity save with keep-highest-confidence (M3),
and the model-first merge with heuristic backfill (H12).

The transformer kernel itself (LayoutLMv3,
/root/reference/Ocr/src/models/layoutlmv3.py:267-348) needs torch/ONNX which
this container lacks, so M1 is a STUB behind the standard Spark ML-serving
pattern: a per-executor lazily-initialized model invoked from an
Arrow-batched kernel. ``fake_token_classifier`` is the deterministic stand-in
(md5-derived label ids/confidences); swapping in a real model changes only
``_predict_batch``. The 512-token truncation (layoutlmv3.py:201) is applied
either way.

M2/M3/H12 are exact reimplementations (reference_semantics.extract_entities /
extract_fields_with_model) — deterministic, test-pinned, and independent of
which model produced the predictions.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import reference_semantics as ref
from ..schemas import BOX, FIELD, SCALAR_FIELDS
from .extract import _to_tuples

MAX_TOKENS = 512  # layoutlmv3.py:201 truncation

PREDICTION = StructType(
    [
        StructField("pred_ids", ArrayType(IntegerType()), False),
        StructField("confidences", ArrayType(DoubleType()), False),
    ]
)

MODEL_LINE_ITEM = StructType(
    [
        StructField("description", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("box", BOX, True),
    ]
)

def fake_token_classifier(tokens: list[str], doc_key: str) -> tuple[list[int], list[float]]:
    """Deterministic stand-in for M1: label id and confidence derived from
    md5(doc_key:pos:token). Ids range over [0, 15) so out-of-range ids (13,
    14) exercise the reference's pred>=len(labels)→O rule."""
    ids, confs = [], []
    for pos, tok in enumerate(tokens[:MAX_TOKENS]):
        h = hashlib.md5(f"{doc_key}:{pos}:{tok}".encode()).hexdigest()
        ids.append(int(h[:2], 16) % 15)
        confs.append(round(0.5 + (int(h[2:4], 16) % 50) / 100.0, 2))
    return ids, confs


# --- M9: lazy per-process model load + device resolve ----------------------
# receipt_processor.py:50-118 + utils.py:31-53: model singletons are created
# on FIRST use inside the process that runs inference (in Spark terms: one
# load per executor Python worker, amortized over every Arrow batch that
# worker handles), and device "auto" resolves to cuda when available, else
# cpu. The forward pass itself is the deterministic stub (no torch in this
# sandbox); the loading/caching machinery is real and test-pinned.

ALLOWED_MODELS = ("stub-token-classifier",)
# The reference's three model architectures (get_processor factory,
# commands.py / SURVEY §2.4 M7) — the model.type config key validates
# against this ONE list so every CLI shares it.
ALLOWED_MODEL_TYPES = ("donut", "idefics2", "layoutlmv3")


def validate_model_type(model_type: str) -> None:
    """M7/M8 model-type allow-list check (raise the reference's ValueError
    shape on unknown types)."""
    if model_type not in ALLOWED_MODEL_TYPES:
        raise ValueError(
            f"unsupported model.type {model_type!r}; "
            f"allowed: {list(ALLOWED_MODEL_TYPES)}"
        )
_MODEL_REGISTRY: dict[tuple[str, str], "_StubTokenClassifier"] = {}


def resolve_device(requested: str = "auto") -> str:
    """'auto' → cuda if torch reports one, else cpu (utils.py:31-53)."""
    if requested != "auto":
        return requested
    try:
        import torch  # absent in this sandbox → cpu

        return "cuda" if torch.cuda.is_available() else "cpu"
    except ImportError:
        return "cpu"


class _StubTokenClassifier:
    """Deterministic M1 model object: the load is real (constructed once per
    process by get_model), the forward pass is the md5 stub."""

    def __init__(self, device: str):
        self.device = device
        self.n_predict_calls = 0

    def predict(self, doc_keys, token_lists):
        self.n_predict_calls += 1
        return [
            fake_token_classifier(toks, key)
            for key, toks in zip(doc_keys, token_lists)
        ]


def get_model(name: str = "stub-token-classifier",
              device: str = "auto") -> _StubTokenClassifier:
    """M9 lazy singleton: the first call in a process constructs the model,
    every later call returns the SAME object; unknown names raise the
    reference's allow-list ValueError shape (M8, commands.py:476-494).

    The registry is keyed by (name, resolved device): a later call asking
    for a DIFFERENT explicit device gets its own instance instead of
    silently receiving the model pinned to the first-resolved device
    ('auto' resolves before the lookup, so auto and its resolution share
    one entry)."""
    if name not in ALLOWED_MODELS:
        raise ValueError(
            f"unsupported model '{name}'; allowed: {list(ALLOWED_MODELS)}"
        )
    resolved = resolve_device(device)
    key = (name, resolved)
    model = _MODEL_REGISTRY.get(key)
    if model is None:
        model = _MODEL_REGISTRY[key] = _StubTokenClassifier(resolved)
    return model


def _predict_batch(doc_keys, token_lists,
                   model_name: str = "stub-token-classifier",
                   device: str = "auto"):
    """The model seam: routes through the per-process lazy singleton; swap
    _StubTokenClassifier for a real batched forward pass (torch.no_grad,
    padded batch) in deployment."""
    return get_model(model_name, device).predict(doc_keys, token_lists)


def make_token_classifier_udf(model_name: str = "stub-token-classifier",
                              device: str = "auto"):
    """Build the M1 classifier UDF bound to a (model, device) choice. The
    binding ships to executors in the UDF closure, so a job configured for
    a non-default model actually RUNS that model on the workers — a config
    that only validated driver-side while inference used hardcoded
    defaults would be silently wrong the moment a second model is
    allowed."""

    @pandas_udf(PREDICTION)
    def _token_classifier_udf(url: pd.Series, words: pd.Series) -> pd.DataFrame:
        token_lists = [
            [w["text"] for w in (ws if ws is not None else [])] for ws in words
        ]
        out = _predict_batch(url.tolist(), token_lists, model_name, device)
        return pd.DataFrame(
            {"pred_ids": [o[0] for o in out], "confidences": [o[1] for o in out]}
        )

    return _token_classifier_udf


token_classifier_udf = make_token_classifier_udf()


MERGED = StructType(
    [
        *[StructField(name, FIELD, True) for name in SCALAR_FIELDS],
        StructField("line_items", ArrayType(MODEL_LINE_ITEM), True),
    ]
)


@pandas_udf(MERGED)
def entity_merge_udf(
    words: pd.Series, pred_ids: pd.Series, confidences: pd.Series
) -> pd.DataFrame:
    """M2+M3+H12 per document: BIO merge of predictions, then model-first
    field assembly with heuristic vendor/total backfill."""
    rows = []
    for ws, pids, confs in zip(words, pred_ids, confidences):
        tuples = _to_tuples(ws)
        tokens = [t[0] for t in tuples]
        boxes = [[t[1], t[2], t[3], t[4]] for t in tuples]
        entities = ref.extract_entities(
            tokens, [int(p) for p in pids], [float(c) for c in confs], boxes
        )
        merged = ref.extract_fields_with_model({"entities": entities}, tuples)
        # heuristic-path line items (full shape) only occur when the model
        # found no entities; project both onto the model line-item shape
        items = [
            {
                "description": li.get("description"),
                "confidence": li.get("confidence"),
                "box": li.get("box"),
            }
            for li in merged.get("line_items", [])
        ]
        rows.append({**{k: merged.get(k) for k in SCALAR_FIELDS}, "line_items": items})
    return pd.DataFrame(rows)


def model_extract(df: DataFrame, words_col: str = "words",
                  model_name: str = "stub-token-classifier",
                  device: str = "auto") -> DataFrame:
    """words → predictions → merged fields, two Arrow-batched stages."""
    classifier = (
        token_classifier_udf
        if (model_name, device) == ("stub-token-classifier", "auto")
        else make_token_classifier_udf(model_name, device)
    )
    with_preds = df.withColumn(
        "_pred", classifier(F.col("url"), F.col(words_col))
    )
    out = with_preds.withColumn(
        "_m",
        entity_merge_udf(
            F.col(words_col),
            F.col("_pred.pred_ids"),
            F.col("_pred.confidences"),
        ),
    )
    for name in (*SCALAR_FIELDS, "line_items"):
        out = out.withColumn(f"model_{name}", F.col(f"_m.{name}"))
    return out.drop("_pred", "_m")
