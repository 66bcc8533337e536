"""Sources: CDX-shaped capture filters and revisit resolution, the WARC
record scan and sitemap and RSS/Atom seed discovery (the snapshot
table store itself is plans.state)."""
