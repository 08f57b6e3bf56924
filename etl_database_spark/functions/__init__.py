"""Column-expression libraries: text analysis, dedup, similarity,
sketches. Everything here returns Column expressions or DataFrame
transforms built from pyspark.sql.functions (JVM-side,
codegen-friendly); Python/Pandas UDFs appear only where built-ins
genuinely cannot express the semantics (zlib compression ratios in
text.py)."""
