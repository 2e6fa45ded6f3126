"""Arrow pandas UDFs — the ONLY Python that touches row data at runtime.

Exactly three UDF families (SURVEY.md §2.1), everything else is built-in
Catalyst expressions:
  * extract_text_udf : html binary -> text        (parity-critical, G3/D3)
  * signatures_udf   : text -> (simhash, LSH bands, minhash) (H1 gen.)
  * score_pairs_udf  : (text_a, text_b, jacc_est) -> (lev_sim, jaccard)
    (D1/D2; jaccard is MinHash-estimated JVM-side in operators/scoring.py
    and refined here only near the threshold)

All are Series-scalar UDFs over Arrow batches; the inner loops are the
numpy-vectorized cores in textcore / sigcore / scorecore.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from . import scorecore, sigcore, textcore
from ..schemas import SCORE_UDF_RESULT, SIG_UDF_RESULT

_I64 = np.uint64(1) << np.uint64(63)


def _to_i64(u: int) -> int:
    """Reinterpret uint64 as int64 (Spark LongType is signed)."""
    return int(np.uint64(u).astype(np.int64))


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: textcore.extract_text(None if b is None else bytes(b)))


def make_signatures_udf(bands: int = sigcore.LSH_BANDS):
    """Build the signature pandas UDF for a given LSH band count over the
    fixed k=128 MinHash (rows = 128 // bands; 24 bands -> 5-row bands over
    the first 120 signature rows). The default 32x4 instance is exported
    as `signatures_udf`; non-default schemes exist for the banding sweep
    recorded in BENCH/BASELINE.md."""

    @pandas_udf(SIG_UDF_RESULT)
    def signatures_udf_(text: pd.Series) -> pd.DataFrame:
        """text -> (simhash, LSH band bucket keys, 16-BIT truncated MinHash
        values — the uint16 cast below; truncation inflates the Jaccard
        estimate by ~(1-j)/65536, negligible, and halves pair-join bytes
        (schemas.py SIG_UDF_RESULT documents the same).
        One vectorized numpy pass over the whole Arrow batch
        (sigcore.signatures_batch): shingle hashes computed once per doc
        and shared by MinHash + SimHash, segment-reduced minhash, batch
        band mix. The truncated MinHash rides along so scoring can
        estimate Jaccard JVM-side (SIG_UDF_RESULT note in schemas.py)."""
        texts = [t if isinstance(t, str) else None for t in text]
        mask, simh, minh, bkeys = sigcore.signatures_batch(texts, bands=bands)
        simh_i = simh.astype(np.int64)
        bands_i = bkeys.astype(np.int64).tolist()
        minh_i = minh.astype(np.uint16).astype(np.int16).tolist()
        return pd.DataFrame(
            {
                "simhash": [int(simh_i[i]) if mask[i] else None
                            for i in range(len(texts))],
                "bands": [bands_i[i] if mask[i] else None
                          for i in range(len(texts))],
                "minhash": [minh_i[i] if mask[i] else None
                            for i in range(len(texts))],
            }
        )

    return signatures_udf_


signatures_udf = make_signatures_udf()


# MinHash-estimate decision band half-width: estimates within ±REFINE_BAND
# of the jaccard match threshold are refined with the exact shingle Jaccard
# (k=128 => sigma ~0.044 at j=0.5; 0.20 is ~4.5 sigma). Outside it the
# estimate cannot flip the match decision, so the expensive re-shingling is
# skipped — the reference's cheap->expensive cascade applied to the scorer
# itself. The band is DERIVED from the configured threshold (a non-default
# jaccard_match moves the band with it; hardcoding 0.30/0.70 would decide
# matches straight from the unrefined estimate near a non-0.50 threshold).
JACC_REFINE_BAND = 0.20


def refine_bounds(jaccard_match: float) -> tuple[float, float]:
    return (max(jaccard_match - JACC_REFINE_BAND, 0.0),
            min(jaccard_match + JACC_REFINE_BAND, 1.0))


# default-threshold bounds, importable by tests / plan code
JACC_REFINE_LO, JACC_REFINE_HI = refine_bounds(0.50)


def make_score_pairs_udf(refine_lo: float = JACC_REFINE_LO,
                         refine_hi: float = JACC_REFINE_HI):
    """Build the pair-scorer pandas UDF for a given refine band: the two
    columns the match decision reads (is_match = lev OR jaccard,
    operators/scoring.py), nothing else."""

    @pandas_udf(SCORE_UDF_RESULT)
    def score_pairs(text_a: pd.Series, text_b: pd.Series,
                    jacc_est: pd.Series) -> pd.DataFrame:
        lev = np.zeros(len(text_a))
        jac = jacc_est.to_numpy(dtype=np.float64, na_value=0.0).copy()
        keep = [
            i for i, (a, b) in enumerate(zip(text_a, text_b))
            if isinstance(a, str) and isinstance(b, str)
        ]
        if keep:
            lev[keep] = scorecore.lev_sim_batch(
                [text_a.iloc[i] for i in keep],
                [text_b.iloc[i] for i in keep])
            refine = [i for i in keep
                      if refine_lo <= jac[i] <= refine_hi]
            if refine:
                jac[refine] = scorecore.jaccard_batch(
                    [text_a.iloc[i] for i in refine],
                    [text_b.iloc[i] for i in refine])
        return pd.DataFrame({"lev_sim": lev, "jaccard": jac})

    return score_pairs


# default instance (0.50-threshold band) — unit tests and the bench warmup
# exercise the scorer through this
score_pairs_udf = make_score_pairs_udf()
