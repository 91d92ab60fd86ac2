"""Engine operators: URL-seen set (Bloom + cuckoo), global ordering,
politeness scheduler, synthetic fetcher, document extraction, language
scoring, near-dup suppression."""
