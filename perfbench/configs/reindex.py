# Two-rule re-index config: a Solr id and the trimmed 245ab title.
to_field("id", extract_marc("001"))
to_field("title", extract_marc("245ab", trim_punctuation=True))
