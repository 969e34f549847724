"""Driver-side query compiler (SURVEY §1.3, §2.8-2.9 query halves:
C2, C4, G4, N5-N7).

Compiles the reference's query IR — ``query_text`` + ``aux_data:
{column: (value, weight)}`` (src/encode.py:107-189) — into:

  1. a fused query vector aligned with the corpus VectorLayout
     (soft-filter arm: one inner-product top-k does retrieval +
     filtering), and
  2. an equivalent *hard* predicate (Spark Column + ANSI SQL string)
     for the exact/oracle arm — the differential-eval pattern of
     `src/eval/milvus_experiment.py:72-89`.

All of this is scalar numpy at compile time: no data access except
precomputed CorpusStats (SURVEY stance #5), and no JVM call. Each
filtering modality compiles to one :class:`HardFilter` spec; the SQL
string renders from it eagerly (pure Python), the Spark Column only on
first access of ``CompiledQuery.predicate`` — building a Column costs
py4j round trips per operator, which the serve path never needs.

Value shapes per kind (src/app.py:196-295):
  sparse  (selection: list, negated: bool)
  binary  bare value
  geo     (lon, lat, negated)
  dense   (extreme,) | (centroid, negated) | (lo, hi, negated)
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import fourier
from . import schema as S
from .encode import CorpusStats, VectorLayout
from .transforms import FittedTransform


def _sql_quote(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


@dataclass(frozen=True)
class HardFilter:
    """One modality's hard-filter twin, rendered as SQL or as a Column.

    ``op`` is ``"in"`` (``args`` = the selection; negated keeps NULLs,
    the reference's NOT-IN semantics), ``"eq"`` (``args`` = (value,))
    or ``"between"`` (``args`` = (lo, hi))."""

    column: str
    op: str
    args: tuple
    negated: bool = False

    def sql(self) -> str:
        c = self.column
        if self.op == "in":
            vals = ", ".join(_sql_quote(v) for v in self.args)
            if self.negated:
                return f"({c} NOT IN ({vals}) OR {c} IS NULL)"
            return f"{c} IN ({vals})"
        if self.op == "eq":
            return f"{c} = {_sql_quote(self.args[0])}"
        lo, hi = self.args
        sql = f"{c} BETWEEN {lo} AND {hi}"
        return f"NOT ({sql})" if self.negated else sql

    def col(self) -> Column:
        c = F.col(self.column)
        if self.op == "in":
            expr = c.isin(list(self.args))
            return (~expr) | c.isNull() if self.negated else expr
        if self.op == "eq":
            return c == F.lit(self.args[0])
        lo, hi = self.args
        expr = c.between(F.lit(lo), F.lit(hi))
        return ~expr if self.negated else expr


@dataclass
class CompiledQuery:
    """A compiled fused query. ``predicate_sql`` is the hard-filter
    twin as an SQL string (None = no filterable modality);
    ``predicate`` is the same filter as a Spark Column, built from
    ``filters`` on first access and cached — compiling never calls
    into the JVM."""

    vector: np.ndarray
    layout: VectorLayout
    predicate_sql: str | None
    aux_data: dict
    query_text: str
    filters: tuple[HardFilter, ...] = ()

    @functools.cached_property
    def predicate(self) -> Column | None:
        if not self.filters:
            return None
        return functools.reduce(operator.and_, (f.col() for f in self.filters))


def _sparse_segment(cs, value) -> np.ndarray:
    """C2 (src/encode.py:135-143): ±1 over the sorted vocab."""
    if value is None:
        return np.zeros(len(cs.vocab))
    selection, negated = value
    seg = np.array([1.0 if v in selection else -1.0 for v in cs.vocab])
    return -seg if negated else seg


def _binary_segment(cs, value) -> np.ndarray:
    """C4 (src/encode.py:144-149), sorted-order canonicalization."""
    if value is None:
        return np.zeros(1)
    return np.array([1.0 if value == cs.values[1] else -1.0])


def _geo_segment(cs, value) -> np.ndarray:
    """G4 (src/encode.py:150-161): farthest point served from the
    precomputed deterministic corpus sample instead of a per-query
    full scan (stance #5)."""
    if value is None:
        return np.zeros(5)
    lon, lat, negated = value
    if not cs.geo_sample:
        raise ValueError("geo stats missing: compute_stats must sample geo column")
    pts = np.array(cs.geo_sample, dtype="float64")
    d = fourier.haversine_km(pts, (lon, lat))
    far = tuple(pts[int(np.nanargmax(d))])
    seg = fourier.geo_encoding((lon, lat), far)
    if negated:
        seg = -seg
    return np.append(seg, 1.0)  # null-indicator dim (src/encode.py:161)


def _dense_segment(cs, value, num_harmonics, interval_epsilon, range_epsilon, transform) -> np.ndarray:
    """N5/N6 (src/encode.py:162-184): [centroid(3) | interval(2K+1) |
    null-ind] = 2K+5 dims matching the product block layout."""
    seg = np.zeros(2 * num_harmonics + 4)
    tr = transform or FittedTransform("identity")

    def scale(v: float) -> float:
        return float(fourier.min_max_scale(float(tr.apply_np(v)), cs.min, cs.max))

    if value is not None:
        if len(value) < 3:  # extreme or centroid → half-circle encoding
            if len(value) == 2:
                v, negated = value
            else:
                v, negated = value[0], False
            if v is not None:
                seg[:3] = fourier.centroid_encoding(scale(v))
                if negated:
                    seg[:3] = -seg[:3]
        else:  # interval filter → integral encoding
            lo, hi, negated = value
            lo_s = (1.0 - range_epsilon) * (scale(lo) - interval_epsilon)
            hi_s = (1.0 - range_epsilon) * (scale(hi) + interval_epsilon)
            if lo_s > hi_s:
                # a decreasing transform (e.g. inverse) flips the
                # interval in transformed space — reorder so the
                # integral bounds stay valid
                lo_s, hi_s = hi_s, lo_s
            seg[3:] = fourier.interval_encoding(lo_s, hi_s, num_harmonics)
            if negated:
                seg[3:] = -seg[3:]
    return np.append(seg, 1.0)


def _hard_filter(column, kind, value) -> HardFilter | None:
    """The exact-SQL twin per modality (oracle arm semantics,
    src/eval/milvus_experiment.py:72-89, extended to every query
    shape the UI can produce)."""
    if value is None:
        return None
    if kind == S.SPARSE:
        selection, negated = value
        if not selection:
            return None
        return HardFilter(column, "in", tuple(selection), negated)
    if kind == S.BINARY:
        return HardFilter(column, "eq", (value,))
    if kind == S.DENSE and len(value) == 3:
        lo, hi, negated = value
        return HardFilter(column, "between", (lo, hi), negated)
    # dense extremes/centroid rank, they don't hard-filter; the oracle
    # arm doesn't support geo (milvus_experiment.py:51-52)
    return None


def compile_query(
    query_text: str,
    aux_data: dict[str, tuple],
    aux_encoding_schema: dict[str, str],
    stats: CorpusStats,
    layout: VectorLayout,
    text_embedder=None,
    num_harmonics: int = 200,
    interval_epsilon: float = 0.01,
    range_epsilon: float = 0.01,
    transformation_schema: dict[str, FittedTransform] | None = None,
) -> CompiledQuery:
    """Compile query IR → (fused vector, hard predicate).

    Segment order follows the VectorLayout the corpus was encoded
    with; each aux segment is multiplied by its weight
    (src/encode.py:187) — weights live only on the query side.
    """
    from .embed import embed_query

    transformation_schema = transformation_schema or {}

    text_dim = dict(layout.segments).get("__text__")
    if text_dim is not None and text_dim <= 0:
        raise ValueError(
            "layout has a text segment of unknown dim — call "
            "encode.record_text_dim(layout, emb_dim) after encode_products"
        )
    if text_dim:
        tvec = embed_query(query_text, dim=text_dim, embedder=text_embedder)
    else:
        tvec = np.zeros(0)

    segs: list[np.ndarray] = [tvec]
    filters: list[HardFilter] = []
    for column, _dim in layout.segments:
        if column == "__text__":
            continue
        kind = aux_encoding_schema[column]
        cs = stats.columns[column]
        value, weight = aux_data.get(column, (None, 1.0))
        if kind == S.SPARSE:
            seg = _sparse_segment(cs, value)
        elif kind == S.BINARY:
            seg = _binary_segment(cs, value)
        elif kind == S.GEO:
            seg = _geo_segment(cs, value)
        elif kind == S.DENSE:
            seg = _dense_segment(
                cs, value, num_harmonics, interval_epsilon, range_epsilon,
                transformation_schema.get(column),
            )
        else:
            continue
        segs.append(seg * float(weight))
        f = _hard_filter(column, kind, value)
        if f is not None:
            filters.append(f)

    return CompiledQuery(
        vector=np.concatenate(segs),
        layout=layout,
        predicate_sql=" AND ".join(f.sql() for f in filters) or None,
        aux_data=aux_data,
        query_text=query_text,
        filters=tuple(filters),
    )
