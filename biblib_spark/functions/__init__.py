"""MinHash and SimHash signatures: numpy batch kernels for the feature row,
plus the MinHash band-key pandas UDF (``minhash.make_band_keys_udf``).
``simhash`` does not import Spark."""
