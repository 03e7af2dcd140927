"""Driver contract snapshot: the key order of ``queries()`` (its first
``_DRIVER_WINDOW`` keys are the window the external driver verifies),
the exact text of every ``oracle_sql()`` entry, the builder behind each
key, the bench headline and the window families. Any change to these is
a change to what the driver checks, so it must show up here as an
explicit edit of the pinned values. Needs no Spark session."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry_mod
import bench
from tools.plan_window import WINDOW_FAMILIES

KEYS = [
    "lang_id_nb", "lang_nb_confusion", "main_content", "mojibake_repair",
    "preprocess_crawl", "segment_difference_kmv", "lang_mixture_select",
    "monthly_retention", "osl_customer_write", "user_event_type_sets",
    "dedup_exact_keep", "sample_per_stratum", "retention_cull",
    "tfidf_top_terms", "winnow_matches", "dsir_weights", "ann_lsh", "tpch_q5",
    "tpch_q6", "tpch_q9_style", "tpch_q18_style", "top_customers",
    "event_agg_by_day", "event_agg_two_level", "event_agg_distinct_stamps",
    "last_purchase_per_user", "purchases_by_quarter", "session_stats",
    "next_session_transitions", "days_to_convert", "osl_histogram_weeks",
    "segment_counts", "segment_algebra", "osl_return_first", "property_counts",
    "property_counts_rx", "customer_timeline", "dedup_ngram_jaccard",
    "text_stats", "clean_documents", "top_bigrams", "token_counts",
    "bm25_search", "winnow_fingerprints", "source_overlap", "collocations",
    "char_entropy", "readability", "vocab_growth", "contamination_check",
    "containment_pairs", "dedup_lines", "pii_report", "mink_prob",
    "corpus_diff", "asof_last_purchase", "events_in_purchase_window",
    "time_rollup", "property_counts_between", "weekly_retention",
    "props_json_extract", "dedup_exact", "embedding_centroids",
    "token_budget_select", "retention_cap", "perplexity_buckets",
    "mixture_select", "sliding_value_p95_24h", "sliding_user_rates_24h",
    "sliding_segment_jaccard_24h", "rollup_user_rates", "ann_pq",
    "dedup_keep_best", "remove_dup_spans", "nearest_dup", "ngram_coverage",
    "lang_confusion", "cross_source_dups", "ngram_novelty", "quality_funnel",
    "cooccur_pmi", "shard_manifest", "epoch_shuffle", "embedding_outliers",
    "dataset_card", "dup_pagerank", "hard_negatives", "knn_agreement",
    "temperature_weights", "boilerplate_affixes", "embedding_drift",
    "length_histogram", "dup_cosine_check", "ann_ivfpq", "source_divergence",
    "event_agg_rollup", "recent_purchase_totals", "histogram_by_type",
    "histogram_weeks_since", "osl_funnel_continue", "osl_segment_counts",
    "dedup_simhash", "dedup_embedding", "session_counts_5min", "top_paths",
    "doc_fingerprint", "repetition_signals", "user_purchase_totals",
    "textual_user_core", "property_counts_by_segment", "osl_agg_options",
    "session_length_quantiles", "ann_topk", "tpch_q3",
    "row_count_distribution", "events_with_user_dim", "funnel_signup_purchase",
    "pii_positive", "asof_nearest_purchase", "overlapping_activity_windows",
    "nb_quality_scores", "source_quality_cap", "title_typo_pairs",
    "approx_users_per_day", "rollup_unique_users", "segment_overlap_approx",
    "cms_token_hitters", "bloom_semijoin_urgent",
    "doc_length_quantiles_sketch", "segment_jaccard_kmv",
    "rollup_value_quantiles", "source_vocab_overlap", "sliding_users_24h",
    "tpch_q1", "tpch_q7_style", "tpch_q10_style", "event_agg_by_type",
    "first_events_per_user", "top_event_types_per_day", "zorder_first_rows",
    "session_counts", "funnel_within_hour", "next_event_transitions",
    "segment_sequence_counts", "osl_event_agg", "osl_script_counter",
    "property_counts_bucketed", "histogram_spend_clipped", "dedup_minhash",
    "substring_dup_pairs", "dedup_clusters", "ann_ivf", "lang_id",
    "quality_score", "pack_sequences", "lm_perplexity", "zipf_fit",
    "kneser_ney_score", "dup_span_fraction", "keyword_tags",
    "leakage_safe_split", "gopher_quality", "lexical_diversity", "oov_rate",
    "chunk_windows", "dsir_resample", "embedding_gram", "url_normalize",
    "url_dedup_keep", "domain_stats", "filter_agreement", "domain_links",
    "domain_pagerank", "markdown_strip", "embedding_health", "robots_rules",
    "robots_verdicts", "script_profile", "sentence_chunks",
    "lang_script_agreement", "decayed_counts"
]

ORACLE_SHA256 = {
    "lang_id_nb":
        "cffd1ed955bc40b70c466cf3f8e0292b350ddd7ae6b6ab7ba006a3d8e519d49e",
    "lang_nb_confusion":
        "70443d93adac8a9cf164067171095790546963265771fe390a4519d978a6063c",
    "main_content":
        "86c4214abeb209367bb33aabee08a4012147b39a5fc35f90ca3b2af470ed7c0a",
    "mojibake_repair":
        "ef47f3c5e3b03c1537a51af6cf2b82827938f9351cf632fc2f65069fda44c23f",
    "preprocess_crawl":
        "b0382395e406a307c049012458bcd6f0f5e930319cea487a1dfb5dd4bafe2061",
    "segment_difference_kmv":
        "4642159da5903acbb3b6aa9a33d82f017df8b20f82331510f754d4f6459cf045",
    "lang_mixture_select":
        "563c01a547eb2da8d13473b343513dbbe0f87aeebe2dccfa6e4d64606227c1ac",
    "monthly_retention":
        "4d4635199e8c30ab63b657b05dc1cc70eec9faccb0c0e06e0d52e124b022d92b",
    "osl_customer_write":
        "1284b05c9edf0eba44b3a241ff1024281b8b5a216c6a8eac4de9c12afdbfe0e4",
    "user_event_type_sets":
        "d35d10bee3bb4cab842b850c27ee2b0e861517362738e7aec03125baf08ef784",
    "dedup_exact_keep":
        "4a723d0be823a2d585442f4e98fa3d75f08c275a251233f70425b6f83941cac4",
    "sample_per_stratum":
        "4f454926d8e0bf99765e648c0ec4fe214a077f1cf5888f83d5089a62fd59986f",
    "retention_cull":
        "ae13a31e8d87365884f931fbfb45efdd2f7bf9424f54384f61670bb39cee000f",
    "tfidf_top_terms":
        "743b8f0fc299d8b87e81423f74aa8631ba3826c624c37be489436cca09b364e0",
    "winnow_matches":
        "62d8ba41c930087c52d718f3130f39e2767954ce7d1dc912b5ad7dc71b0c54fb",
    "dsir_weights":
        "468779b185d62a406e6f35d3903708869af1e01f5856dedd87a5c0837da23433",
    "ann_lsh":
        "095346be5c388af6be02140bd1987cf99f812c86073b5d0e8790da981f152582",
    "tpch_q5":
        "f0fcd5abbc681bdb33f0a01ff8baef4c3afd05c0a2da4984d826732b8137317d",
    "tpch_q6":
        "2c45dcdc6ff1cfa0fce5871373ea3eb221e2ef193f26bd9fca6b4f0cdedaed1d",
    "tpch_q9_style":
        "e05a65a1d373241ceee1fba8f6fd4d2b0faed83f66ecf1cf4b124cbee3de1767",
    "tpch_q18_style":
        "9d8dfbcfca1b7eb78da512ce7f4b54c816013af54289b2743bcf000df448bfa9",
    "top_customers":
        "1429968c54abf374b48ee747ddb1db2948f2a4c0d218e6b665faad905c6be869",
    "event_agg_by_day":
        "b70dc23463c91658323badb26f2bd67ee32a7d6bec704c7afe511d7b7b94855f",
    "event_agg_two_level":
        "f0aa6985d9aba3afac2da9e7163d63a8c5ec2ef607c5a2cb9362b45261a7d3cc",
    "event_agg_distinct_stamps":
        "5db9a6157d41a9af6425ced0e668918e6b6eea78fa2e2169dbaf3b786c9625a2",
    "last_purchase_per_user":
        "54895a7ffcb92e9d032d0ccf8d59542affc988e406059ad6ba73ad793c227db1",
    "purchases_by_quarter":
        "ebb81d0992dca41315493c1e1a15d400b153df28d274a866f5d9636f2bff50db",
    "session_stats":
        "4b2cc183ff6e9a9ffbb64d34aa00622a31527693298e92d2112011d870da09dd",
    "next_session_transitions":
        "0d81772c392b900591a4d55bc6ee66ebeb35633a8e5c756f0ab372a52d3c9a3c",
    "days_to_convert":
        "7f1ffd68b6988bb09761dca5809520429d9a81b0cc1f8ab18bf4a2d71959094b",
    "osl_histogram_weeks":
        "c58d6d365e0826a6132c05302e12d17a2dc184ba450e95c29a1c6f7ef3fc5989",
    "segment_counts":
        "7a457c978d5302b45721df7c3973cb5b194c06b2dfcfc64201b6a4fc20507f18",
    "segment_algebra":
        "029c2a855d2a1b370bc0ec2723866867d47c0e38668a111a0ec1415b1d5c868e",
    "osl_return_first":
        "c80192463122d58bdc0f481d46abfef9abe57fcd914766e2680d4b538bffac8f",
    "property_counts":
        "23b26f366f8c4aced89ff09122947faf1f0ea38f19bb0744e38710bdf80f2e9a",
    "property_counts_rx":
        "9044cc403bb34c32b58b044a67268f5ae2e88857016678d51e79e4a64f689ecf",
    "customer_timeline":
        "e5904ca2dd22c833aac3c42e023c8c05546ea9791b3924b8b4a45d9e861e17dd",
    "dedup_ngram_jaccard":
        "d2d538223f055ed0c7bdc8da8d9b51ca8120519065392a9244826c2ad60ff361",
    "text_stats":
        "439f62ef793620749f0833a2e891d32309aabfd93ddcabc3916075a01c5df92f",
    "clean_documents":
        "730807b2c4a19c8232da0d866860275b2e2b804744190d8ea4defd772f46ec25",
    "top_bigrams":
        "f6e6d8dfd38e776a517b7a79b544e609d634bc179fdc4edbc3a9f8e284424345",
    "token_counts":
        "3f272d08c44cb3f0e500f56b8c94a368fcc77388305ab8190fe64b2d865e31dc",
    "bm25_search":
        "a703a45f368f80b13a2b4cbbfa1b94c4c9dc63ebd86eea98578b2a4ad017c466",
    "winnow_fingerprints":
        "57b47a0dd5d4a5c2060754377a4ee3a0e79e965e310950e81f35175e8f1f64e1",
    "source_overlap":
        "fc821a21c7879520410f9527d2a5e30db4f6cf232305d30ffe7d814373e61517",
    "collocations":
        "ad254aba7c63f064300572436af73ef1ec2b0cb48d720c0e469a840ffbd19170",
    "char_entropy":
        "6ec7ffecb19882164917552598b03f1e8e869e2107e731f8c54409b4059b9471",
    "readability":
        "276af4a7df91eca1ab34694be7793e5a316c2f12cef57d8a9a1941ef480a0088",
    "vocab_growth":
        "fe5002db30d8445cc7b63e0c08e8a0235ecb4b0ea019738e4beadd0da7b601b3",
    "contamination_check":
        "89e86e0ef56636d23995a923358d0c2d43d0a5d7030f90102797867d2d845de3",
    "containment_pairs":
        "20688c8b0e35d5d68e82eedc40d5a5efce593e5cc61bd01a0d71fd7cb8f548ab",
    "dedup_lines":
        "e52aff8209ef2b4d6a45a8664dca41079e8292e6e9e436b40d07a44921278134",
    "pii_report":
        "ad0d2d624f2a678ab251fcbb71d666688a1ee62ac3e28e31c3a97d23223070ce",
    "mink_prob":
        "c8fe0a1dc76e71e8c8b2ba12d68b563e81612557700bda76e81ea7ece53e1832",
    "corpus_diff":
        "dc6d0f218815059663987868c20c4942a2c6213035545c79ab5c155e3d01e474",
    "asof_last_purchase":
        "4284a3476cddd52e1268c6fff3defdbcee782c60253cca5186e51496ad6e5cf3",
    "events_in_purchase_window":
        "7110706e3fc46c15181b1e5fa70ed728d9d80eeaae1f17e2c601234ffe0fef0e",
    "time_rollup":
        "2fb8b93c4d21607b98b83f9df2a30a128ea7700118ba35425f7ec0566229bfce",
    "property_counts_between":
        "012536fb49a1669717647fc3e96dd2fa0e01877749a55e881c6998d07934cf12",
    "weekly_retention":
        "aaf3f68230fe5e7da6fcdcf6222f86270298243fd667b10810f403533083d15d",
    "props_json_extract":
        "a099d425e80ad177d5bc9553b67d7569a288e868dcc6a24a2232ab25ff34ac48",
    "dedup_exact":
        "b2099290ca848dfe5cf2aa9936abeb2f015d786f6db746323cce180605c19fd1",
    "embedding_centroids":
        "9f6e19aeb22a1dccb4572d464764bab77f28bb03e65cb48e004c7a990a7d83ef",
    "token_budget_select":
        "3d6f8b9dbeb1fa1d99aabf864ba94cafc978c5a82cb5dd39733fa226cc25b3bd",
    "retention_cap":
        "b5dc24d97ca0644d6bc426abe4d6d944164caf02018fd7ba3630e7fdfa22a7d3",
    "perplexity_buckets":
        "7996cd043e6bb88b337e5d479df4448cd83353c86cdc5ec17e8f57186bad216a",
    "mixture_select":
        "3c4847a1e657f97cf9d03371be98cf15149d631c48e668ff635626f9d6b95e14",
    "sliding_value_p95_24h":
        "3d46b828a90f770178f1c25bc8845596dfbc671c11314cc678c88d0e33e893a7",
    "sliding_user_rates_24h":
        "ff3e791e811074379df0affac7b69fd4711963ea8f880019cd345ae5cf3cac96",
    "sliding_segment_jaccard_24h":
        "33365d36b51a27ff2cc8e50c3a847bab89cfa6772fdf2ebb399eaaad3e558d87",
    "rollup_user_rates":
        "681a883f22cfe55294407aa644bc23f70dc3babad14d3f2eb76172e4b2b50ec2",
    "ann_pq":
        "095346be5c388af6be02140bd1987cf99f812c86073b5d0e8790da981f152582",
    "dedup_keep_best":
        "c812f284514c4cda51520675f390e8269ce59ea083bfdbec2c93d6fa09980f06",
    "remove_dup_spans":
        "65525f2cf1266355be8e2eb459a27ddd7912353a157ce8aa1c6fd946936c4c48",
    "nearest_dup":
        "dff14c187fc79bcc292853bb95e3307262d9614b8d463a883880ec157e371d0b",
    "ngram_coverage":
        "7e894f8fc22d3ad79c3f51099621521f48f441d1317ca33adc3610b66d2b7c2d",
    "lang_confusion":
        "80d27be3ec6d71d0991cd931da6d085c0ac060a28dc7f7ab93b42af431354e5a",
    "cross_source_dups":
        "4e0756b5a3f832d5c30edc742dc8d226abc087b2741118ae12251bd660750b4d",
    "ngram_novelty":
        "e2fadce967f01d4b0542e3d439d3f03048213898aa2b785058824d3d21db532b",
    "quality_funnel":
        "9f275b66e9bbe81010c3d81217df0df5fbc61d95624a523ca65243b7b441c877",
    "cooccur_pmi":
        "82924141cc8ae93dee296db672614b3f101c2284e2ee8712a24504f6e6c28bc7",
    "shard_manifest":
        "9a559ab95bf5801229142ea3911ea7ae7feb8b3aa0f748f1d3b6ee02f070720a",
    "epoch_shuffle":
        "3a286225a8d28a2b254e932b73e9b2adc1337acaf5122abc6f4b570959bebc09",
    "embedding_outliers":
        "300e16e66be876cc4fdf4f944151237098edd8f78481cdac0a8060682fd17430",
    "dataset_card":
        "5f85bb467934a258890926c01a56353ffe80fb5b3ca6c01c063f83a309b4118f",
    "dup_pagerank":
        "ccdc712a8df2997f921927c5d4003aeac0a3e1ada76cbcb01de8db41c93d6680",
    "hard_negatives":
        "7db2fb2eb3d5dfa178acb14dbaf456863df19d0f3bc9216cbf6ad156b5857230",
    "knn_agreement":
        "eb762a92e20b7b40d8b0daaee1b428290d467745baaa7418f8a92c05b14d1ada",
    "temperature_weights":
        "c1c14dc08ed89fb1392c2fc2d1959bc335eb449341d21d5126ae1af11eaac72a",
    "boilerplate_affixes":
        "85c1c97c670784ee066e9e3003f266c29eca13fabf016f22de1e810f4e8df265",
    "embedding_drift":
        "bd64a092ec50b241e913338ad52b05c3c46facb0427dc5c1f397bf7c097ce2a9",
    "length_histogram":
        "b99bf54be0ad5fe22f0a1d7dcf37abad8522891feac7d7215c750c4f74ff653f",
    "dup_cosine_check":
        "df3e930bbf0d18ca98f0301209ce5b8368de2972943e3ced085f23d1478a6f97",
    "ann_ivfpq":
        "095346be5c388af6be02140bd1987cf99f812c86073b5d0e8790da981f152582",
    "source_divergence":
        "ba3ecf8420e5e4579e492c71db591aad777157d5668d50542a8ee679364e6606",
    "event_agg_rollup":
        "34b84e847c8ead055071ce068f916e352a050704dc5c72f3211b8ec8776022d4",
    "recent_purchase_totals":
        "6f887b0ad66858362fbe7eff296bb41ee72fb6cb2906f25ade15bc0e72c2cfdd",
    "histogram_by_type":
        "399de36ee1864b6ab07ad774db110fb8b6228e1f31e3d6443f501687e258bdd6",
    "histogram_weeks_since":
        "e8d334c549cf7bf721b30d483ea84a4a9ac0191df898191ad609de9d767fa788",
    "osl_funnel_continue":
        "7c08e6ec7494734714d5e0480c21ff41c766bf8b68510e32e64977d19dd5191a",
    "osl_segment_counts":
        "b40bc817de1620e045e60bbe304aa89c516df3b32b22ad11597ea5b9ec8a4f1c",
    "dedup_simhash":
        "5522fb798d18979d0c3447d2ec9ba3ea1fea91f732eacfcb3b70b27c44d26218",
    "dedup_embedding":
        "8fd3a7fbb672e1cfad2002b594cfd918c63f27be5b28694bd1d6efadb2f45154",
    "session_counts_5min":
        "9f2560d5bdc06870af8cec8ec27d138fe62251177920479ce28dc2c3c3231726",
    "top_paths":
        "da6b4d663e79075484fc8b672d945ff92399c634c200b425b92d135fba9cdc55",
    "doc_fingerprint":
        "9b50dcbeb09100a77c853a2e8a3bcd5e55de3114a57ecf0dcf053be07142d5e6",
    "repetition_signals":
        "572287bfbe3cdb0cbe555d7f18a87ec6c963dbb80f5d1fa76dbe01c450228267",
    "user_purchase_totals":
        "98cac55940b6d4e55d4155ed7d9efae5449eec7211f664b4935f1f4e3cba26ab",
    "textual_user_core":
        "abddbeb83d3259ad7243f530ffd069f73011637c39ad814a1e49ac915ac21098",
    "property_counts_by_segment":
        "00570e45e7a6b401d64b6fcf2737e6386fe6b203d4d6af71609f45a5f2d6d092",
    "osl_agg_options":
        "31c921f5eabec7484d5394e9e1675906d8e5ab03268a429acfbb0a48aba4b308",
    "session_length_quantiles":
        "17b3dc85bc12e01bb38797dbf03f4f3acd5b15304a21ae549fba36e177dd81d1",
    "ann_topk":
        "6dfb4cd6fd5db6d6586ed00103ffa9c1d0a584e66b04cd40d153019bb9cbddc5",
    "tpch_q3":
        "e0dcd1e9496645bdc65f617e60449ecd28a20237134718822744d78ca241efa5",
    "row_count_distribution":
        "51fc925bba4b166989285ac1ecbd5aa0ebe20076705f440b4db0a1113dac28b5",
    "events_with_user_dim":
        "3b2c16a6bb885955d4c400e0a3f883a72bcaaef68f51fcd00864612859388767",
    "funnel_signup_purchase":
        "23a3e5ade7f2c6081c0f9f59f86733b601bd9b846b4d4f4702466a88a08a11a8",
    "pii_positive":
        "148186973afb0df37972ac23c06ea74357f18f43a916b9d9a7fd766122a8d3ad",
    "asof_nearest_purchase":
        "dc47a39fa9921f855d76f699598729e87e0147320db21b2af90aef17b15255ef",
    "overlapping_activity_windows":
        "1ef49ad2015ab9116811fdc5ce10b47178b8a27e3796f6fcb5d67769b360b0f1",
    "nb_quality_scores":
        "a42487cde2037e9312a956eb959b8f5853332a5f4239ac00f27144617a808f2d",
    "source_quality_cap":
        "005093c517cbb6928000a6bf68e339d77f84069809dd205b59d2135ca9e02476",
    "title_typo_pairs":
        "f56bb153db30286f6475e6d6ab218b112d8d9509f431fe270912397c28607aa5",
    "approx_users_per_day":
        "4c99a3b14230b54a8e423a4be68fd8d8b0184b60b78e97ef67a171576f9a02fe",
    "rollup_unique_users":
        "aa4e77adc49321163d73789a63186b527e84c7d04b8bfc501f3442b03233e613",
    "segment_overlap_approx":
        "322f15c4c6ef6e20b4c3101c9cc65910f43442832fee3e6ac8d8d54bb5abddfd",
    "cms_token_hitters":
        "173039f1ff58e4ed1033582e82196d116293170881d3be05c791a69608d8c12b",
    "bloom_semijoin_urgent":
        "a396d58d64f71cee789caa3286ea51110e8d16387b177ff61c9c5308faa47f23",
    "doc_length_quantiles_sketch":
        "baef96b39374266e2ac6af0c846c507de54d36a1a4e383c1b2ad11f4faae9aa2",
    "segment_jaccard_kmv":
        "60e2318a35af93cf7209a84f4d819f9975bb448c8e09f090deaab0c61bba2027",
    "rollup_value_quantiles":
        "a22a83f7f40095bd77bec4581fb1d2d179664eeea8043df689073119bc9be14f",
    "source_vocab_overlap":
        "955ed42d5b66c76b2c94552e488ca1272e216644fbdc9704d89c7fdf8da99759",
    "sliding_users_24h":
        "ecf6a6eb9e6644fd6a668bed15713b66d93e88ea679a7fb01bda8aba782d94a6",
    "tpch_q1":
        "f4411c096322d0b49d91ebb534b0befab287d491ae4908be9c2ee0b2b3a99298",
    "tpch_q7_style":
        "94a886547412b3ed5d824d303497f2597d2382d0e509bbbd0cf49a558b7443eb",
    "tpch_q10_style":
        "3b40d2513e0c80088066d83b352dc535c98e0cdc89388be80132a14d8df0a239",
    "event_agg_by_type":
        "1c85500c9a49d7b34eda83f05419f7ff4ea75faf27842635f2a1a9d8a40a5d0e",
    "first_events_per_user":
        "586b02490a0622ef2bb9f37b382af30ff8549850df5b0613dd0b4530cc8148fc",
    "top_event_types_per_day":
        "b2a163cf913ff53cf94df14c8f24fd1d448dbc8a9f96ce8f919f357958ed000c",
    "zorder_first_rows":
        "82117b2083ef164656bae9d8854c07b356129b081065cef3a6af854c3382ba04",
    "session_counts":
        "b30d820faaec4a7ae9ec10d93309730e8455ae73b40fe2a8ec073cbc9470751e",
    "funnel_within_hour":
        "502b8a65006e572ce4325a56775dfa09b8c750ca97543bf38637886c08a5361d",
    "next_event_transitions":
        "f579154fdc19510dc3767ccb9faa36294092727754263cc6e180d2a6b4f77f2c",
    "segment_sequence_counts":
        "8b5e59eb3f68310c737ede90b11527c7ad0ba280cc3caa09c8213aa498070a80",
    "osl_event_agg":
        "bf5b8f888b2c51325f7a6e9479b37172cd221846c6ab4a5b891a3948b417d024",
    "osl_script_counter":
        "cfd8129d0efcb6fea7875d2a20f25dac36e486b3070cdf9ecc026ee8b38db213",
    "property_counts_bucketed":
        "fbfcd884a1dda3b35dccd18293bc34da4d621e5971671582a0ad93837d2b2c55",
    "histogram_spend_clipped":
        "70ddb9ecb085390fac684e738290a6ebaa807bfd922dc4296a1cca0422cb66dc",
    "dedup_minhash":
        "e9e50fd4a1fa56039d2c5d47c73f00ac72d594cc96e8e16500500e2083f2573a",
    "substring_dup_pairs":
        "f402df09df69c20da7fa9e1290a82c606a125e28c83d6d277f6c28cf2ea67efe",
    "dedup_clusters":
        "c70db248924e7951580c064c4c96dbac71c81e6f9b6049a818bd475e57b51b6d",
    "ann_ivf":
        "095346be5c388af6be02140bd1987cf99f812c86073b5d0e8790da981f152582",
    "lang_id":
        "108cfe3f298291dc32a5940e44c194b338a54d23ff5d3b35a594cc58fd643bed",
    "quality_score":
        "0e9a1733a8862fe5e31ee90aba6a05004be0c73ec6c1b72e528cb0940a04fa87",
    "pack_sequences":
        "8dc45d54a287ab2ba24e968a4df292811b200c10de16ba139ac1c5d998da2f0c",
    "lm_perplexity":
        "7f00624885dea11a52bab186f597b54fc810e8bb6ae0c8498426c01331ecd838",
    "zipf_fit":
        "410411d53a479b8f5e6fc7f44ac2d1657af5fb732ecdeb58c0a685e30cb8b780",
    "kneser_ney_score":
        "4be834d7d32736364c3c29efa93986742889f5d2541f57396dbfc9543cabf272",
    "dup_span_fraction":
        "0bf8b9fc25298b32af318d7007235a52b3c2aaf8b86b2b73bd0082dbbcb2141c",
    "keyword_tags":
        "9807fd7b503371eba1604f29f07183d221f263a6c5ce033c59802bfc1e4f9647",
    "leakage_safe_split":
        "088ca630558dd8e06f5eb7792d2b0d28056592a93adc2531538b95c007b54bff",
    "gopher_quality":
        "134d5027d503374d0c88c9d9b81b23cad345d52c53644a57998f720c52ffffc6",
    "lexical_diversity":
        "a1e1b6b735b8bf8cf32fcb83d0bcf69ca2cb397f6e483b8c1c15c3f86282c2c2",
    "oov_rate":
        "a6b79643ccceb8daf4699bfc3ab95705793849ea8df9593c78a2daa64901475d",
    "chunk_windows":
        "a9993eff8c03be5316a1555aa6ba43117a9d60c7a65358c494e233fc0c528ae3",
    "dsir_resample":
        "63d28bbe84db96711b2a7efc098d5b172e10bef83a10ffd143714212d451a167",
    "embedding_gram":
        "ffbbc29803609ad8e8f9517365ba2d861037686a7d96288754639b8214ebabfc",
    "url_normalize":
        "4201caf8fdf7f41d8392652f4ec6f9f7c177c52682bd895f69865e944b973226",
    "url_dedup_keep":
        "149dc3e53cfd83877e51914897d12f2216f1f19bce96ed6e96c9ad799eef5bce",
    "domain_stats":
        "a5748963c21736ac94894ebaf9c4d37c5e59414f6bb1b24c2e4d39ed34e50de1",
    "filter_agreement":
        "106cceedc6d057d7943c5ecc9b91ce355b694366bb928b44388a8d8a051005ee",
    "domain_links":
        "2289dda8afa2961715e79c5206ea312f5e24b57953163c90e2a30d495f26ec8a",
    "domain_pagerank":
        "9f39e03ff8b013c26af0454ee99324a43be8f1d3dae891c74ec81b2d2c9bb7f3",
    "markdown_strip":
        "07a1db3459140a6b0ff99fe440f8bfe4221889c330b7a9f462faa19f72e779eb",
    "embedding_health":
        "4eb2cfc4f3e64d054bbd590e991933352198b461a1b42558c30b96e2fc94de66",
    "robots_rules":
        "5151d746494f163bde961243a56b57df5eca179a4cb9ff33b9fdd274f3c4a913",
    "robots_verdicts":
        "ebd396fc74f69ca734a34bd7dfdce40ce586db69f1ef3333bcba3129142ecfb6",
    "script_profile":
        "632a73fa8998f5d6faedd9868f6c4cd7783dfd1d6a9f59ca149f6c720731503b",
    "sentence_chunks":
        "6f5d6aac386dcc6a056148daf5363eed82416aaa02ecae695427e46bb6d93eeb",
    "lang_script_agreement":
        "e037f091cc384f508c4815099dc6d64197dd5f92957e70e4adecec701cc0173c",
    "decayed_counts":
        "7bc76fa9ec5cd92aa5d3552c2f835f0754119c6bffe22fa494f7e66593890637",
}

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "event_agg_by_type", "session_counts",
    "session_stats", "funnel_signup_purchase", "next_event_transitions",
    "weekly_retention", "segment_counts", "property_counts_by_segment",
    "histogram_weeks_since", "dedup_exact", "dedup_minhash", "ann_topk",
    "ann_lsh", "ann_ivf", "quality_score"
]

FAMILIES = {
    "relational": {
        "top_customers", "tpch_q1", "tpch_q10_style", "tpch_q18_style",
        "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q7_style", "tpch_q9_style"
    },
    "event_agg": {
        "event_agg_by_day", "event_agg_by_type", "event_agg_distinct_stamps",
        "event_agg_rollup", "event_agg_two_level", "recent_purchase_totals",
        "user_purchase_totals"
    },
    "event_rows": {
        "first_events_per_user", "last_purchase_per_user",
        "row_count_distribution", "zorder_first_rows"
    },
    "dim_join": {
        "customer_timeline", "events_with_user_dim"
    },
    "sessionize": {
        "session_counts", "session_counts_5min", "session_stats"
    },
    "funnel": {
        "days_to_convert", "funnel_signup_purchase", "funnel_within_hour"
    },
    "paths": {
        "next_event_transitions", "next_session_transitions", "top_paths"
    },
    "retention": {
        "monthly_retention", "weekly_retention"
    },
    "segments": {
        "segment_algebra", "segment_counts", "segment_sequence_counts",
        "textual_user_core"
    },
    "osl_declarative": {
        "osl_agg_options", "osl_event_agg", "osl_funnel_continue",
        "osl_histogram_weeks", "osl_segment_counts"
    },
    "osl_imperative": {
        "osl_customer_write", "osl_return_first", "osl_script_counter"
    },
    "property_counts": {
        "property_counts", "property_counts_between",
        "property_counts_bucketed", "property_counts_by_segment",
        "property_counts_rx"
    },
    "histogram": {
        "histogram_by_type", "histogram_spend_clipped",
        "histogram_weeks_since", "purchases_by_quarter",
        "session_length_quantiles"
    },
    "props_sets": {
        "props_json_extract", "user_event_type_sets"
    },
    "dedup_exact": {
        "dedup_exact", "dedup_exact_keep"
    },
    "dedup_sketch": {
        "containment_pairs", "dedup_embedding", "dedup_minhash",
        "dedup_ngram_jaccard", "dedup_simhash", "substring_dup_pairs"
    },
    "ann": {
        "ann_ivf", "ann_lsh", "ann_topk", "embedding_centroids"
    },
    "text": {
        "char_entropy", "clean_documents", "doc_fingerprint", "lang_id",
        "quality_score", "readability", "repetition_signals", "text_stats",
        "token_counts", "top_bigrams", "vocab_growth"
    },
    "decontam": {
        "contamination_check"
    },
    "sampling": {
        "sample_per_stratum", "token_budget_select"
    },
    "retention_maintenance": {
        "retention_cap", "retention_cull"
    },
}


def test_query_key_order():
    assert entry_mod._DRIVER_WINDOW == 50
    assert list(entry_mod.queries()) == KEYS


def test_oracle_sql_text():
    got = {
        k: hashlib.sha256(sql.encode()).hexdigest()
        for k, sql in entry_mod.oracle_sql().items()
    }
    assert got == ORACLE_SHA256


def test_builder_names():
    # every key's builder is the module-level function q_<key>
    got = {k: f.__name__ for k, f in entry_mod.queries().items()}
    assert got == {k: f"q_{k}" for k in KEYS}


def test_bench_headline():
    assert bench.HEADLINE == HEADLINE


def test_window_families():
    assert {f: set(ks) for f, ks in WINDOW_FAMILIES.items()} == FAMILIES
