package graft.config

import java.nio.file.Files

/** Mirrors razulibs tests/test_config.py:17-61 (flat-YAML subset). */
class ConfigSpec extends graft.SparkSuite {

  private val yaml =
    """# test configuration
      |razu_file_id: "NL-WbDRAZU"
      |archive_creator_id: "G0321"
      |archive_id: "661"
      |razu_base_uri: "https://data.razu.nl/"
      |resource_identifier_segment: "id"
      |default_entity_kind_segment: "object"
      |storage_base_domain: "opslag.razu.nl"
      |metadata_suffix: meta
      |manifest_suffix: manifest
      |eventlog_suffix: eventlog
      |metadata_extension: json
      |""".stripMargin

  private def configFile: String = {
    val f = tempDir("graft-config").resolve("config.yaml")
    Files.writeString(f, yaml)
    f.toString
  }

  test("loads values from YAML (test_config_loads_test_values)") {
    Config.reset()
    val cfg = Config.initialize(configFile)
    assert(cfg("razu_base_uri") == "https://data.razu.nl/")
    assert(cfg("resource_identifier_segment") == "id")
    assert(cfg("default_entity_kind_segment") == "object")
    assert(cfg("razu_file_id") == "NL-WbDRAZU")
    assert(cfg("metadata_suffix") == "meta") // unquoted value
  }

  test("singleton behavior (test_singleton_behavior)") {
    Config.reset()
    val cfg = Config.initialize(configFile)
    assert(Config.getInstance eq cfg)
  }

  test("write-once immutability (test_config_immutability)") {
    Config.reset()
    val cfg = Config.initialize(configFile)
    intercept[IllegalArgumentException](cfg.withSetting("razu_base_uri", "new"))
    val extended = cfg.withSetting("brand_new_key", "v")
    assert(extended("brand_new_key") == "v")
  }

  test("missing attribute raises (test_missing_attribute)") {
    Config.reset()
    val cfg = Config.initialize(configFile)
    intercept[NoSuchElementException](cfg("non_existent_setting"))
  }

  test("drives the identifier algebra (required settings present)") {
    Config.reset()
    val ids = new graft.ids.Identifiers(Config.initialize(configFile).toIdConfig)
    assert(ids.uidBase == "NL-WbDRAZU-G0321-661")
    assert(ids.manifestFilename == "NL-WbDRAZU-G0321-661.manifest.json")
  }
}
