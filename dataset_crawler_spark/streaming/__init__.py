"""The crawl round engine (rounds.py): schedule → fetch → diff → commit."""
