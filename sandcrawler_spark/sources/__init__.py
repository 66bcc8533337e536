"""Sources: CDX-shaped capture filters and revisit resolution, the WARC
record scan, sitemap and RSS/Atom seed discovery, and the bucketed
url_seen table (the snapshot table store itself is plans.state)."""
