"""antnre_spark — a brand-new PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of changzhisun/AntNRE.

NOT a port: the reference is a single-process PyTorch joint entity-relation
extraction toolkit (see SURVEY.md §0.1); this package re-expresses WHAT it
computes (BiLSTM-CRF mention detection, span-pair relation classification,
CoNLL04-style eval) as an idiomatic Spark pipeline over Iceberg-style tables
of multi-turn transcripts, plus the linking/canonicalization/materialization
stages mandated by BASELINE.json:6,14.

Provenance note (SURVEY.md §0): /root/reference was empty in this sandbox, so
reference citations are `[pub:]` reconstructions; the parity oracle is
oracle/antnre_oracle.py (deterministic single-process numpy).

Modules map to SURVEY.md §2 operator families:
  schema       fixed StructTypes for every table (§1.2)
  session      SparkSession builder with scale-oriented defaults
  assemble     C1 window-ordered document assembly, C2 turn dedup, C3 sessions
  segment      D1 sentence split, D2 tokenize, D3 vocabulary
  nnmodel      pure-numpy BiLSTM-CRF + span-pair MLP: the one forward that
               inference and training share (no pyspark imports)
  extract      E+F mention & relation extraction as one mapInPandas stage
  link         G1-G7 MinHash/LSH/connected-components entity linking
  materialize  H1-H5 triple dedup, vertex/edge assembly, degree stats
  salt         explicit salting helpers (§4.3.1)
  icelite      IcebergLite snapshot/manifest table layer (§7.4)
  metrics      _markers lineage / completion-marker table (§3.3)
  pipeline     end-to-end jobs with per-partition resume
  textops      language-ID (trained 14-lang char-trigram NB + stopword
               heuristic), quality scoring + char-trigram LM proxy,
               whitespace + BPE-ish token counts, fingerprints
  langid_corpora deterministic 14-language training/held-out prose for
               the NB language identifier
  dedup        exact / MinHash-LSH / SimHash / n-gram-Jaccard /
               cosine-LSH (single-set + banded multi-plane) document
               dedup (+ bucket-stats pre-flight)
  curate       deterministic sampling, per-source quotas, dup-cluster
               keeper selection
  simsearch    brute-force + LSH-bucketed + IVF cosine top-k over
               embeddings (md5-hash quantizer sample + distributed
               Lloyd refresh) + bulk batch kNN for a bounded query
               table (cosine_topk_batch / ivf_topk_batch /
               bucketed_topk_batch, one shared numpy scoring kernel)
  streaming    the incremental-KG stream (start_kg_stream): foreachBatch
               extraction with an idempotent per-batch overwrite,
               incremental linking + triple materialization — stream
               triples equal the batch link job exactly
  multimodal   binary media columns: byte-capped decode batches, frame
               plans, REAL pure-numpy PPM/WAV decode kernels with a
               flagged byte-stat fallback
  train        distributed training: relation decoder (frozen-encoder
               features), mention detector + JOINT model (fit_joint —
               CRF NLL + relation CE through the shared encoder), and
               minimum-risk fine-tuning (fit_mrt, EMNLP'18-style k-best
               expected span-F1 risk), all on one data-parallel epoch
               driver (gradient all-reduce, optional per-epoch
               Bernoulli minibatching)
  encoder_grad pure-numpy CRF NLL + full encoder backprop (masked-BiLSTM
               BPTT, char-CNN maxpool routing, embedding scatter-adds)
               + k-best MRT gradients over nnmodel's forward functions
               — every array finite-difference-pinned (no pyspark
               imports)
  iceberg_adapter flag-guarded real-Iceberg twin of the IceLite surface
  evaluate     CoNLL04-style P/R/F1 vs the golden oracle tables
  sources      CoNLL04-format corpus reader/writer
  hashing      shared deterministic MinHash/gram primitives (no pyspark)
"""

__version__ = "0.5.0"
