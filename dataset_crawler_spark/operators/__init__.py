"""Engine operators (SURVEY.md §2): diff/change-capture, state folds,
seen-set membership, politeness scheduling, link centrality, discovery,
exact-substring dedup."""
