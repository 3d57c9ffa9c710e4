"""SQL-surface registration: expose the sketch estimators and hash
functions to ``spark.sql(...)`` string queries.

After ``register_sql_functions(spark)``::

    SELECT source, hll_card(sketch) FROM sketches_view
    SELECT jump_bucket(wang64(user_id), 32) AS bucket FROM events

Each name registers the same UDF-helper body (``functions._udf``) as its
Column twin in estimates.py / hashing.py, so both surfaces read sketches
and keys alike: NULL in, NULL out, and int64 keys keep all 64 bits.
The per-row quantile and moment readers exist only here: they take ``q``
as a column instead of a Python list.
"""

from __future__ import annotations

from .estimates import (_bloom_card, _csk_f2, _ddsum_value, _hll_card,
                        _hll_card_orig, _kmv_est)
from .hashing import _jump, _wang64
from ._udf import key_udf, row_udf


def _quantile(kind: str):
    return row_udf("double", lambda s, q: float(s.quantiles([float(q)])[0]),
                   kind, None)


def register_sql_functions(spark) -> None:
    fns = {
        "kmv_card": _kmv_est,
        "csk_f2": _csk_f2,
        "mom_mean": row_udf("double", lambda m: m.stats()[1], "mom"),
        "mom_variance": row_udf("double", lambda m: m.stats()[2], "mom"),
        "ddsum_value": _ddsum_value,
        "hll_card": _hll_card,
        "hll_card_original": _hll_card_orig,
        "wang64": _wang64,
        "jump_bucket": key_udf("long", _jump),
        "bloom_cardinality": _bloom_card,
        "kll_quantile": _quantile("kll"),
        "tdigest_quantile": _quantile("tdigest"),
        "dd_quantile": row_udf("double",
                               lambda s, q: float(s.quantile(float(q))),
                               "dd", None),
        "req_quantile": _quantile("req"),
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn.udf())
