"""The dedup feature row, defined once (M3 + N1-N5 + LSH/SimHash keys).

Both Spark feature paths build their rows here: the fused corpus kernel
(``operators.dedupe.features_from_corpus``: parse + features in one Python
pass) and the record kernel (``operators.dedupe.preprocess``: flat
``RECORD_COLS`` in); so do the oracle fixtures (``fixtures.py``).
``FEATURE_SCHEMA`` is the one schema of that row; the Spark side derives its
StructType from it.

``FeatureRows.add`` builds one record's row (``add_citation`` takes a parsed
citation dict); ``FeatureRows.finish`` runs the batched MinHash over
everything added since the last finish (one segmented broadcast instead of
one numpy round-trip per record) and returns the Arrow batch.
"""

from __future__ import annotations

import pyarrow as pa

from biblib_spark.kernels.norm import (
    format_issn,
    format_journal_name,
    normalize_title,
    normalize_volume,
)

FEATURE_SCHEMA = pa.schema(
    [
        pa.field("rid", pa.int64(), nullable=False),
        pa.field("source", pa.string()),
        pa.field("doi", pa.string()),
        pa.field("pmid", pa.string()),
        pa.field("accession_number", pa.string()),
        pa.field("year", pa.int32()),
        pa.field("pages", pa.string()),
        # one-char presence marker: the election cascade only tests presence
        # (dedupe.rs:513-530)
        pa.field("abstract_text", pa.string()),
        pa.field("norm_title", pa.string()),
        pa.field("norm_journal", pa.string()),
        pa.field("norm_journal_abbr", pa.string()),
        pa.field("norm_volume", pa.string()),
        pa.field("norm_issn", pa.list_(pa.string())),
        pa.field("year_key", pa.int32(), nullable=False),
        pa.field("lsh_keys", pa.list_(pa.int64())),
        pa.field("simhash_keys", pa.list_(pa.int64())),
    ]
)


class FeatureRows:
    """Column buffers for one batch of feature rows under one DedupConfig."""

    def __init__(self, cfg) -> None:
        # functions.* import pyspark at module level; import them here so
        # this module stays importable without Spark
        from biblib_spark.functions.minhash import _perm_params, lsh_keys_batch
        from biblib_spark.functions.simhash import simhash64

        self._lsh_keys_batch = lsh_keys_batch
        self._simhash64 = simhash64
        self._a, self._b = _perm_params(cfg.num_perm, cfg.minhash_seed)
        self._k, self._bands = cfg.shingle_k, cfg.bands
        self._group_by_year = cfg.group_by_year
        self._simhash_on = cfg.simhash_enabled
        self._sim_max = cfg.simhash_max_title
        self._cols: dict[str, list] = {f.name: [] for f in FEATURE_SCHEMA}

    def add(
        self, rid, source, title, journal, journal_abbr, volume, pages, issn,
        doi, pmid, accession_number, abstract_text, year,
    ) -> None:
        """One record's feature row (``lsh_keys`` is filled by ``finish``)."""
        cols = self._cols
        nt = normalize_title(title or "") or ""
        cols["rid"].append(rid)
        cols["source"].append(source)
        cols["doi"].append(doi)
        cols["pmid"].append(pmid)
        cols["accession_number"].append(accession_number)
        cols["year"].append(year)
        cols["pages"].append(pages)
        cols["abstract_text"].append("x" if abstract_text is not None else None)
        cols["norm_title"].append(nt)
        cols["norm_journal"].append(
            format_journal_name(journal) if journal is not None else None
        )
        cols["norm_journal_abbr"].append(
            format_journal_name(journal_abbr) if journal_abbr is not None else None
        )
        cols["norm_volume"].append(
            normalize_volume(volume) if volume is not None else ""
        )
        cols["norm_issn"].append(
            [f for f in (format_issn(v) for v in issn or []) if f is not None]
        )
        cols["year_key"].append(
            (year if year is not None else 0) if self._group_by_year else 0
        )
        if self._simhash_on and nt and len(nt) <= self._sim_max:
            h = self._simhash64(nt, self._k)
            cols["simhash_keys"].append(
                [(q << 16 | ((h >> (16 * q)) & 0xFFFF)) for q in range(4)]
            )
        else:
            cols["simhash_keys"].append([])

    def add_citation(self, rid, source, c: dict) -> None:
        """``add`` for one parsed citation (kernels/citation.py's dict)."""
        self.add(
            rid, source, c["title"], c["journal"], c["journal_abbr"],
            c["volume"], c["pages"], c["issn"], c["doi"], c["pmid"],
            c["accession_number"], c["abstract_text"],
            c["date"]["year"] if c["date"] else None,
        )

    def finish(self) -> pa.RecordBatch:
        """The rows added since the last finish, with their LSH band keys."""
        cols = self._cols
        cols["lsh_keys"] = self._lsh_keys_batch(
            cols["norm_title"], self._k, self._a, self._b, self._bands
        )
        batch = pa.RecordBatch.from_arrays(
            [pa.array(cols[f.name], type=f.type) for f in FEATURE_SCHEMA],
            schema=FEATURE_SCHEMA,
        )
        self._cols = {f.name: [] for f in FEATURE_SCHEMA}
        return batch
