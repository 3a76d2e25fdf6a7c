from .aggregator import aggregate  # noqa: F401
from .analysis import fingerprint, lang_id, text_quality  # noqa: F401
from .classifiers import (dummy_classify, mask_classify, masks_df,  # noqa: F401
                          random_classify)
from .dedup import (exact_dedup, jaccard_pairs, minhash_lsh_pairs,  # noqa: F401
                    shingle_table, simhash, simhash_near_pairs)
from .extractor import blocs, doc_summaries, extract  # noqa: F401
from .fused import PipelineConfig, process_doc, run_fused  # noqa: F401
from .multimodal import binary_metadata, extract_features  # noqa: F401
from .simsearch import brute_force_topk, cosine_bucket_pairs  # noqa: F401
from .trainable import (bloc_features, classify_native,  # noqa: F401
                        train)
