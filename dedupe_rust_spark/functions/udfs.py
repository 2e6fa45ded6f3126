"""Arrow pandas UDFs — the ONLY Python that touches row data at runtime.

Exactly three UDF families (SURVEY.md §2.1), everything else is built-in
Catalyst expressions:
  * extract_text_udf : html binary -> text        (parity-critical, G3/D3)
  * signatures_udf   : text -> (simhash, LSH bands, minhash) (H1 gen.)
  * score_pairs_udf  : (text_a, text_b, jacc_est) -> (lev_sim, jaccard)
    (D1/D2; jaccard is MinHash-estimated JVM-side in operators/scoring.py
    and refined here only inside scorecore's refine band)

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

# Marked nondeterministic (the extraction itself is deterministic) so the
# optimizer keeps the projection that computes `text`: a deterministic one
# lets filters on `text` push below it and chained UDFs inline it, which
# ran the extraction once for signatures()' `text IS NOT NULL` filter and
# again beside signatures_udf — two to three Python passes per page.
@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: textcore.extract_text(None if b is None else bytes(b)))


extract_text_udf = extract_text_udf.asNondeterministic()


@pandas_udf(SIG_UDF_RESULT)
def signatures_udf(text: pd.Series) -> pd.DataFrame:
    """text -> (simhash, LSH band bucket keys, 16-BIT truncated MinHash
    values — the uint16 cast below; truncation inflates the Jaccard
    estimate by ~(1-j)/65536, negligible, and halves pair-join bytes
    (schemas.py SIG_UDF_RESULT documents the same).
    One vectorized numpy pass over the whole Arrow batch
    (sigcore.signatures_batch): shingle hashes computed once per doc
    and shared by MinHash + SimHash, segment-reduced minhash, batch
    band mix (sigcore.LSH_BANDS x LSH_ROWS). The truncated MinHash rides
    along so scoring can estimate Jaccard JVM-side (SIG_UDF_RESULT note in
    schemas.py)."""
    texts = [t if isinstance(t, str) else None for t in text]
    mask, simh, minh, bkeys = sigcore.signatures_batch(texts)
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


@pandas_udf(SCORE_UDF_RESULT)
def score_pairs_udf(text_a: pd.Series, text_b: pd.Series,
                    jacc_est: pd.Series) -> pd.DataFrame:
    """The two columns the match decision reads (is_match = lev OR
    jaccard, operators/scoring.py), nothing else: lev_sim for every pair
    with both texts, and the estimate replaced by the exact shingle
    Jaccard inside scorecore's refine band."""
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
        refine = [i for i in keep if scorecore.JACC_REFINE_LO <= jac[i]
                  <= scorecore.JACC_REFINE_HI]
        if refine:
            jac[refine] = scorecore.jaccard_batch(
                [text_a.iloc[i] for i in refine],
                [text_b.iloc[i] for i in refine])
    return pd.DataFrame({"lev_sim": lev, "jaccard": jac})
